"""MOR write/read/compaction (model: reference TestMORDataSource.scala,
TestHoodieMergeOnReadTable.java)."""

import pytest
from pyspark.sql import functions as F

from hudi_0_10_0_spark import HudiTable, WriteConfig
from hudi_0_10_0_spark.config import TableType


@pytest.fixture()
def mor(spark, tmp_table_path, orders):
    cfg = WriteConfig(
        record_key_field="o_orderkey",
        partition_field="o_orderstatus",
        precombine_field="o_totalprice",
        table_type=TableType.MERGE_ON_READ,
    )
    t = HudiTable.create(spark, tmp_table_path + "/orders", cfg)
    t.bulk_insert(orders)
    return t


def test_upsert_writes_deltacommit_log_files(mor, orders):
    upd = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    mor.upsert(upd)
    actions = [i.action for i in mor.timeline.completed_write_instants()]
    assert actions == ["commit", "deltacommit"]
    assert any(s.logs for s in mor.file_slices())


def test_snapshot_merges_read_optimized_does_not(mor, orders):
    upd = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    mor.upsert(upd)
    exp = round(
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .agg(F.sum(F.col("o_totalprice") * 2))
        .first()[0],
        3,
    )
    got = round(
        mor.snapshot()
        .filter(F.col("o_orderkey") % 10 == 0)
        .agg(F.sum("o_totalprice"))
        .first()[0],
        3,
    )
    assert got == exp
    ro = round(
        mor.read_optimized()
        .filter(F.col("o_orderkey") % 10 == 0)
        .agg(F.sum("o_totalprice"))
        .first()[0],
        3,
    )
    assert ro == round(
        orders.filter(F.col("o_orderkey") % 10 == 0).agg(F.sum("o_totalprice")).first()[0],
        3,
    )


def test_mor_delete_tombstone_and_resurrect(mor, orders):
    one = orders.limit(1)
    key = one.first()["o_orderkey"]
    mor.delete(one.select("o_orderkey", "o_orderstatus"))
    assert mor.snapshot().filter(F.col("o_orderkey") == key).count() == 0
    mor.upsert(one.withColumn("o_totalprice", F.lit(123.456)))
    got = mor.snapshot().filter(F.col("o_orderkey") == key).collect()
    assert len(got) == 1
    assert got[0]["o_totalprice"] == 123.456


def test_multiple_delta_commits_latest_wins(mor, orders):
    ten = orders.limit(10)
    for i in range(1, 4):
        mor.upsert(ten.withColumn("o_totalprice", F.lit(float(1000 + i))))
    keys = [r[0] for r in ten.select("o_orderkey").collect()]
    vals = (
        mor.snapshot()
        .filter(F.col("o_orderkey").isin(keys))
        .select("o_totalprice")
        .distinct()
        .collect()
    )
    assert [r[0] for r in vals] == [1003.0]


def test_compaction_folds_logs(mor, orders):
    upd = orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1
    )
    mor.upsert(upd)
    before = mor.snapshot().orderBy("o_orderkey").select("o_orderkey", "o_totalprice").collect()
    ci = mor.compact()
    assert ci is not None
    assert not any(s.logs for s in mor.file_slices())
    after = mor.snapshot().orderBy("o_orderkey").select("o_orderkey", "o_totalprice").collect()
    assert before == after
    # read-optimized now sees merged values too
    ro = mor.read_optimized().orderBy("o_orderkey").select("o_orderkey", "o_totalprice").collect()
    assert ro == after


def test_inline_compaction_trigger(spark, tmp_table_path, orders):
    cfg = WriteConfig(
        record_key_field="o_orderkey",
        partition_field="o_orderstatus",
        precombine_field="o_totalprice",
        table_type=TableType.MERGE_ON_READ,
        inline_compact=True,
        compact_max_delta_commits=2,
    )
    t = HudiTable.create(spark, tmp_table_path + "/ic", cfg)
    t.bulk_insert(orders)
    ten = orders.limit(10)
    t.upsert(ten.withColumn("o_totalprice", F.lit(1.0)))
    t.upsert(ten.withColumn("o_totalprice", F.lit(2.0)))  # triggers compaction
    actions = [i.action for i in t.timeline.completed_write_instants()]
    assert actions.count("commit") >= 2  # initial + compaction commit
    assert not any(s.logs for s in t.file_slices())


def test_mor_incremental(mor, orders):
    c1 = mor.commits()[0]
    upd = orders.limit(25).withColumn("o_totalprice", F.lit(7.0))
    mor.upsert(upd)
    inc = mor.incremental(c1)
    assert inc.count() == 25
    assert set(r[0] for r in inc.select("o_totalprice").collect()) == {7.0}


def test_skip_merge_read(mor, orders):
    """hoodie.datasource.merge.type=skip_merge
    (HoodieMergeOnReadRDD unMergedReader): base ∪ delta concat without
    per-key resolution — every row version surfaces."""
    mor.upsert(orders.limit(100).withColumn("o_totalprice", F.lit(-1.0)))
    merged = mor.snapshot()
    raw = mor.snapshot(merge_type="skip_merge")
    assert merged.count() == orders.count()
    # updated keys appear twice in the unmerged view (base + delta)
    assert raw.count() == orders.count() + 100
    assert raw.filter("o_totalprice = -1.0").count() == 100


def test_incremental_across_compaction_preserves_commit_times(spark, tmp_table_path, orders):
    """Compaction rewrites base files but must preserve each row's
    original _hoodie_commit_time (MergeOnReadIncrementalRelation +
    InstantRange semantics): an incremental read spanning a compaction
    returns only genuinely-changed rows."""
    from hudi_0_10_0_spark.config import TableType

    t = HudiTable.create(
        spark, tmp_table_path + "/ic",
        WriteConfig(record_key_field="o_orderkey", partition_field=None,
                    precombine_field="o_totalprice",
                    table_type=TableType.MERGE_ON_READ, inline_compact=False),
    )
    t.bulk_insert(orders.limit(100))
    c1 = t.commits()[-1]
    t.upsert(orders.limit(5).withColumn("o_totalprice", F.lit(7.0)))
    t.compact()
    inc = t.incremental(c1)
    assert inc.count() == 5
    assert inc.filter("o_totalprice = 7.0").count() == 5
    # untouched rows keep their bulk-insert commit time post-compaction
    ct = t.snapshot().filter("o_totalprice != 7.0").select("_hoodie_commit_time").distinct().collect()
    assert [r[0] for r in ct] == [c1]


def test_merge_into_mor_preserves_uncompacted_deltas(spark, tmp_table_path):
    """Code-review r3: MERGE INTO on a MOR table routes through the COW
    rewrite path (requires_stored_merge) — the stored side must be the
    MERGED view of the touched slices, or uncompacted deltacommit
    updates/deletes silently vanish when the new base supersedes them."""
    from pyspark.sql import functions as F

    from hudi_0_10_0_spark import HudiTable, TableType, WriteConfig

    t = HudiTable.create(
        spark, tmp_table_path + "/mim",
        WriteConfig(record_key_field="id", partition_field="part",
                    precombine_field="ts",
                    table_type=TableType.MERGE_ON_READ,
                    inline_compact=False),
    )
    t.bulk_insert(spark.createDataFrame(
        [(i, "p0", 0, 100) for i in range(10)], "id long, part string, v long, ts long"))
    # deltacommit updates v for ids 0-4 (uncompacted log rows)
    t.upsert(spark.createDataFrame(
        [(i, "p0", 77, 200) for i in range(5)], "id long, part string, v long, ts long"))
    assert t.snapshot().filter("v = 77").count() == 5
    # MERGE INTO touching id 9 only; must not lose the id 0-4 updates
    t.merge_into(
        spark.createDataFrame([(9, "p0", 999, 300)],
                              "id long, part string, v long, ts long"),
        matched_update="all", not_matched_insert=True,
    )
    snap = t.snapshot()
    assert snap.filter("v = 999").count() == 1
    assert snap.filter("v = 77").count() == 5, "uncompacted delta updates lost"
    assert snap.count() == 10


def test_mor_duplicate_updates_last_wins_within_deltacommit(spark, tmp_table_path):
    """Code-review r3: equal-preCombine duplicates written to ONE
    deltacommit resolve last-wins via the zero-padded seqno tie-break
    (unpadded decimals ranked '_9' above '_10'). Mirrors the reference
    scanner's positional later-wins behavior."""
    from pyspark.sql import functions as F

    from hudi_0_10_0_spark import HudiTable, TableType, WriteConfig

    t = HudiTable.create(
        spark, tmp_table_path + "/dup",
        WriteConfig(record_key_field="id", partition_field="part",
                    precombine_field="ts",
                    table_type=TableType.MERGE_ON_READ,
                    inline_compact=False,
                    combine_before_upsert=False),
    )
    t.bulk_insert(spark.createDataFrame([(1, "p0", 0, 100)],
                                        "id long, part string, v long, ts long"))
    # 12 duplicate rows for key 1, all with EQUAL precombine value, in
    # one single-partition batch — generation order is the only order
    dups = spark.createDataFrame(
        [(1, "p0", i, 500) for i in range(12)],
        "id long, part string, v long, ts long",
    ).coalesce(1)
    t.upsert(dups)
    got = t.snapshot().filter("id = 1").select("v").collect()
    assert [r.v for r in got] == [11], got  # the LAST duplicate wins


def _force_bypass(monkeypatch, on=True):
    """Pin the MOR log-key bypass decision regardless of its cost model."""
    from hudi_0_10_0_spark.sources import read

    monkeypatch.setattr(read, "_log_key_bypass_pays", lambda cfg, with_logs: on)


def test_log_key_bypass_matches_full_merge(mor, orders, monkeypatch):
    """VERDICT r5 #3: base rows of delta-bearing groups whose key has no
    log record bypass the merge shuffle via a broadcast log-key
    semi/anti split. The bypass read must equal the full-window-merge
    read row for row (including tombstone handling), and the plan must
    actually contain the broadcast semi/anti joins."""
    upd = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    mor.upsert(upd)
    mor.delete(orders.filter(F.col("o_orderkey") % 100 == 7))

    # the cost gate keeps tiny tables on the plain window merge; force
    # the bypass here to pin its semantics
    _force_bypass(monkeypatch)
    snap = mor.snapshot()
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan[:2000]

    bypass = sorted(
        tuple(r) for r in snap.select("o_orderkey", "o_totalprice").collect()
    )
    # force the fallback (full window merge) and compare
    monkeypatch.undo()
    mor.cfg.broadcast_budget_bytes = 0
    full_df = mor.snapshot()
    full_plan = full_df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in full_plan
    full = sorted(
        tuple(r) for r in full_df.select("o_orderkey", "o_totalprice").collect()
    )
    assert bypass == full


def test_mor_duplicate_base_keys_consistent_across_merge_paths(
    spark, tmp_table_path, monkeypatch
):
    """Diff-review r6: duplicate-key BASE rows (bulk_insert writes every
    duplicate) with no log record must read identically through the
    log-key bypass and the full window merge — both stream them through
    unmerged, like the reference scanner which only merges keys present
    in the log map."""
    from hudi_0_10_0_spark import HudiTable, WriteConfig
    from hudi_0_10_0_spark.config import TableType

    cfg = WriteConfig(
        record_key_field="id", partition_field="part", precombine_field="v",
        table_type=TableType.MERGE_ON_READ, inline_compact=False,
    )
    t = HudiTable.create(spark, tmp_table_path + "/dup", cfg)
    t.bulk_insert(spark.createDataFrame(
        [(1, "p0", 10), (1, "p0", 20), (2, "p0", 5)],
        "id long, part string, v long",
    ))
    t.upsert(spark.createDataFrame([(2, "p0", 9)], "id long, part string, v long"))

    def rows():
        return sorted(tuple(r) for r in t.snapshot().select("id", "v").collect())

    _force_bypass(monkeypatch)    # force the semi/anti split
    bypass = rows()
    monkeypatch.undo()
    t.cfg.broadcast_budget_bytes = 0  # force the full window merge
    full = rows()
    assert bypass == full == [(1, 10), (1, 20), (2, 9)]


@pytest.mark.parametrize("bypass", [True, False])
def test_cluster_and_compaction_keep_the_merged_snapshot(
    spark, tmp_table_path, monkeypatch, bypass
):
    """Clustering and compaction run the snapshot's own slice merge, so
    neither changes what a snapshot returns — with the log-key bypass
    forced on or off. Group p0 carries logs with an update and a hard
    delete (plus an untouched duplicate key); group p1 has no logs and
    duplicate base keys."""
    _force_bypass(monkeypatch, bypass)
    schema = "id long, part string, v long"

    def build(name):
        t = HudiTable.create(
            spark,
            f"{tmp_table_path}/{name}",
            WriteConfig(
                record_key_field="id", partition_field="part",
                precombine_field="v", table_type=TableType.MERGE_ON_READ,
                # one file group per partition, so the duplicate keys
                # share a group with their neighbours
                inline_compact=False, write_parallelism=1,
            ),
        )
        t.bulk_insert(spark.createDataFrame(
            [(1, "p0", 10), (1, "p0", 11), (2, "p0", 10), (3, "p0", 10),
             (7, "p1", 1), (7, "p1", 2), (8, "p1", 5)],
            schema,
        ))
        t.upsert(spark.createDataFrame([(2, "p0", 20)], schema))
        t.delete(spark.createDataFrame([(3, "p0")], "id long, part string"))
        assert [(s.partition, bool(s.logs)) for s in t.file_slices()] == [
            ("p0", True), ("p1", False)
        ]
        return t

    def rows(t):
        return sorted(tuple(r) for r in t.snapshot().select("id", "part", "v").collect())

    expected = [
        (1, "p0", 10), (1, "p0", 11), (2, "p0", 20),
        (7, "p1", 1), (7, "p1", 2), (8, "p1", 5),
    ]
    clustered = build("clustered")
    assert rows(clustered) == expected
    assert clustered.cluster() is not None
    assert rows(clustered) == expected

    compacted = build("compacted")
    assert rows(compacted) == expected
    compacted.compact(compacted.schedule_compaction())
    assert not any(s.logs for s in compacted.file_slices())
    assert rows(compacted) == expected


def test_bypass_cost_gate_auto_from_manifests():
    """Verdict r6 #7: the bypass decision is cost-based from manifest
    stats — on at scale (saved shuffle beats the second scan + fixed
    overhead), off at toy size and off when the key broadcast would not
    fit."""
    from types import SimpleNamespace as NS

    from hudi_0_10_0_spark.sources.read import _log_key_bypass_pays

    def slices(base_rows, avg_row, log_rows):
        return [
            NS(
                base=NS(rows=base_rows, bytes=int(base_rows * avg_row)),
                logs=[NS(rows=log_rows, bytes=log_rows * 60)],
            )
        ]

    auto = NS(broadcast_budget_bytes=64 << 20)
    # sf0.1-shaped: 150k base rows — saved shuffle ~7 MB, under the floor
    assert not _log_key_bypass_pays(auto, slices(150_000, 45, 15_000))
    # third-decade shape: 45.7M base rows, trickle log — clear win
    assert _log_key_bypass_pays(auto, slices(45_700_000, 45, 500))
    # measured crossover region: ~2M rows flips the decision
    assert not _log_key_bypass_pays(auto, slices(1_000_000, 45, 1_000))
    assert _log_key_bypass_pays(auto, slices(4_000_000, 45, 1_000))
    # broadcast budget: a huge log key set disables the bypass even at scale
    assert not _log_key_bypass_pays(auto, slices(45_700_000, 45, 5_000_000))
    # a zero budget disables the bypass regardless of the cost model
    forced_off = NS(broadcast_budget_bytes=0)
    assert not _log_key_bypass_pays(forced_off, slices(45_700_000, 45, 500))
