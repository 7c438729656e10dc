"""COW delete through the broadcast merge (``stored LEFT JOIN
broadcast(tombstones)``, the path upserts take within the broadcast
budget): it must answer exactly like the merge-kernel path a zero budget
forces, across the edge shapes that could distinguish them — duplicate
delete keys, absent keys, a fully-emptied file group — and survivors
must keep their ORIGINAL commit time (incremental-query correctness).
The test names keep the name of the broadcast anti-join this path
replaced."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from hudi_0_10_0_spark import HudiTable, WriteConfig


def _mk(spark, path, orders, **cfg_kw):
    t = HudiTable.create(
        spark,
        path,
        WriteConfig(
            record_key_field="o_orderkey",
            partition_field="o_orderpriority",
            precombine_field="o_orderdate",
            inline_compact=False,
            auto_clean=False,
            auto_archive=False,
            **cfg_kw,
        ),
    )
    t.bulk_insert(orders)
    return t


def _rows(t):
    # commit times differ across independently-built tables — compare
    # data columns only; commit-time preservation is asserted per-table
    return sorted(
        tuple(r)
        for r in t.snapshot().select("o_orderkey", "o_orderstatus").collect()
    )


def test_antijoin_delete_equals_kernel_delete(spark, orders, tmp_table_path):
    # duplicate keys in the batch + absent keys + one partition fully
    # cleared: both paths must produce identical snapshots
    dels = (
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .select("o_orderkey", "o_orderpriority")
        .unionByName(  # duplicates of the same keys
            orders.filter(F.col("o_orderkey") % 8 == 0).select(
                "o_orderkey", "o_orderpriority"
            )
        )
        .unionByName(  # absent keys
            orders.limit(20)
            .select(
                (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
                "o_orderpriority",
            )
        )
    )
    fast = _mk(spark, f"{tmp_table_path}/fast", orders)
    c0_fast = fast.commits()[0]
    fast.delete(dels)

    slow = _mk(spark, f"{tmp_table_path}/slow", orders)
    slow.cfg = dataclasses.replace(
        slow.cfg, broadcast_budget_bytes=0
    )  # force the merge-kernel path
    slow.delete(dels)

    assert _rows(fast) == _rows(slow)
    # survivors keep the ORIGINAL bulk-insert commit time on the fast path
    cts = {
        r[0] for r in fast.snapshot().select("_hoodie_commit_time").distinct().collect()
    }
    assert cts == {c0_fast}


def test_antijoin_delete_empties_a_whole_partition(spark, orders, tmp_table_path):
    t = _mk(spark, tmp_table_path, orders)
    part = "5-LOW"
    t.delete(
        orders.filter(F.col("o_orderpriority") == part).select(
            "o_orderkey", "o_orderpriority"
        )
    )
    snap = t.snapshot()
    assert snap.filter(F.col("o_orderpriority") == part).count() == 0
    assert (
        snap.count()
        == orders.count() - orders.filter(F.col("o_orderpriority") == part).count()
    )


def _dup_table(spark, path, **cfg_kw):
    from hudi_0_10_0_spark import HudiTable, WriteConfig

    t = HudiTable.create(
        spark,
        path,
        WriteConfig(
            record_key_field="id", partition_field="part",
            precombine_field="v", inline_compact=False, **cfg_kw,
        ),
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, "p0", 10), (1, "p0", 20), (2, "p0", 5)],
            "id long, part string, v long",
        )
    )
    return t


@pytest.mark.parametrize("budget", [None, 0])
def test_delete_preserves_untouched_duplicate_stored_keys(
    spark, tmp_table_path, budget
):
    """ENGINE-WIDE contract (r9, resolving the r8 pinned divergence):
    duplicate STORED keys of a rewritten group stream through per-row on
    BOTH the broadcast merge and the merge kernel — the
    reference merge-handle writes each stored record independently
    (HoodieMergeHandle.write probes the incoming map per old record).
    Deleting key 2 must not silently dedup key 1's duplicates, and the
    outcome must not depend on the broadcast-budget perf knob."""
    t = _dup_table(spark, tmp_table_path)
    if budget is not None:
        t.cfg = dataclasses.replace(
            t.cfg, broadcast_budget_bytes=budget
        )  # force the merge-kernel path
    t.delete(spark.createDataFrame([(2, "p0")], "id long, part string"))
    got = sorted(tuple(r) for r in t.snapshot().select("id", "v").collect())
    assert got == [(1, 10), (1, 20)]


@pytest.mark.parametrize("budget", [None, 0])
def test_upsert_merges_each_duplicate_stored_key_per_row(
    spark, tmp_table_path, budget
):
    """Same engine-wide contract on the UPSERT side: an incoming update
    whose key has duplicate STORED rows merges with EACH of them
    (reference per-row semantics) — two stored (1, v=10)/(1, v=20) rows
    updated by one incoming (1, v=30) yield two v=30 rows, on the
    broadcast trickle path and the kernel alike."""
    t = _dup_table(spark, tmp_table_path)
    if budget is not None:
        t.cfg = dataclasses.replace(
            t.cfg, broadcast_budget_bytes=budget
        )  # force the merge-kernel path
    t.upsert(
        spark.createDataFrame([(1, "p0", 30)], "id long, part string, v long")
    )
    got = sorted(tuple(r) for r in t.snapshot().select("id", "v").collect())
    assert got == [(1, 30), (1, 30), (2, 5)]


def _plan_outside_cache(df) -> str:
    """Executed plan of ``df`` without the subtrees of cached frames:
    the tag join's own broadcast lives inside the cached ``tagged``
    frame and is not one of the budget-gated paths."""
    keep, cut = [], None
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cut is not None and depth > cut:
            continue
        cut = depth if "InMemoryRelation" in line else None
        keep.append(line)
    return "\n".join(keep)


def test_zero_broadcast_budget_takes_every_general_path(
    spark, orders, tmp_table_path, monkeypatch
):
    """``broadcast_budget_bytes=0`` sends both budget-gated paths to
    their general shuffle paths — the COW broadcast merge (upsert and
    delete) and the MOR log-key bypass — with the same answers as the
    default budget."""
    from pyspark.sql.readwriter import DataFrameWriter

    from hudi_0_10_0_spark import TableType
    from hudi_0_10_0_spark.sources import read

    written = []
    save = DataFrameWriter.save

    def recording_save(writer, *args, **kwargs):
        written.append(_plan_outside_cache(writer._df))
        return save(writer, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "save", recording_save)
    upd = orders.filter(F.col("o_orderkey") % 20 == 0).withColumn(
        "o_orderstatus", F.lit("X")
    )
    dels = orders.filter(F.col("o_orderkey") % 30 == 1).select(
        "o_orderkey", "o_orderpriority"
    )
    cow = {}
    for name, kw in (("default", {}), ("zero", {"broadcast_budget_bytes": 0})):
        t = _mk(spark, f"{tmp_table_path}/cow_{name}", orders, **kw)
        written.clear()
        t.upsert(upd)
        t.delete(dels)
        upsert_plan, delete_plan = written
        cow[name] = (_rows(t), upsert_plan, delete_plan)
    assert cow["default"][0] == cow["zero"][0]
    assert "BroadcastHashJoin" in cow["default"][1]
    assert "BroadcastHashJoin" not in cow["zero"][1]
    assert "BroadcastHashJoin" in cow["default"][2]
    assert "BroadcastHashJoin" not in cow["zero"][2]

    # without the fixed overhead floor the cost model takes the bypass at
    # this size, so only the budget decides
    monkeypatch.setattr(read, "_BYPASS_FIXED_OVERHEAD_BYTES", 0)
    mor = _mk(
        spark, f"{tmp_table_path}/mor", orders, table_type=TableType.MERGE_ON_READ
    )
    mor.upsert(upd)
    mor.delete(dels)
    snap = mor.snapshot()
    assert "LeftSemi" in _plan_outside_cache(snap)
    bypass = _rows(mor)
    mor.cfg = dataclasses.replace(mor.cfg, broadcast_budget_bytes=0)
    assert "LeftSemi" not in _plan_outside_cache(mor.snapshot())
    assert _rows(mor) == bypass
