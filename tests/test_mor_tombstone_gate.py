"""MOR delete-block window gate (optimization r8): the per-log
tombstone stat recorded by the writer's profile lets the snapshot merge
skip the delete-block sort+window pass when no merged log carries a
delete — and must keep it (and its semantics) when one does."""

from pyspark.sql import functions as F

from hudi_0_10_0_spark import HudiTable, TableType, WriteConfig
from hudi_0_10_0_spark.sources import read


def _mor(spark, path):
    t = HudiTable.create(
        spark,
        path,
        WriteConfig(
            record_key_field="o_orderkey",
            partition_field="o_orderpriority",
            precombine_field="o_orderdate",
            table_type=TableType.MERGE_ON_READ,
            inline_compact=False,
            auto_clean=False,
            auto_archive=False,
        ),
    )
    return t


def _n_windows(df) -> int:
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bWindow \[", plan))


def test_update_only_logs_skip_the_delete_block_window(spark, orders, tmp_table_path):
    t = _mor(spark, tmp_table_path)
    t.bulk_insert(orders)
    t.upsert(
        orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_orderstatus", F.lit("A")
        )
    )
    # per-log stats recorded False for an update-only deltacommit
    logged = [l for s in t.file_slices() for l in s.logs]
    assert logged and all(l.tombstones is False for l in logged)
    snap = t.snapshot()
    # merge plan: row_number window + base-passthrough window only — the
    # delete-block window (3rd) is gated out
    assert _n_windows(snap) == 2
    n = snap.count()
    assert n == orders.count()
    assert (
        snap.filter(F.col("o_orderstatus") == "A").count()
        == orders.filter(F.col("o_orderkey") % 3 == 0).count()
    )


def test_delete_deltacommit_keeps_the_window_and_deletes(spark, orders, tmp_table_path):
    t = _mor(spark, tmp_table_path)
    t.bulk_insert(orders)
    t.upsert(
        orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_orderstatus", F.lit("A")
        )
    )
    t.delete(
        orders.filter(F.col("o_orderkey") % 5 == 0).select(
            "o_orderkey", "o_orderpriority"
        )
    )
    slices = t.file_slices()
    tombs = [l.tombstones for s in slices for l in s.logs]
    assert True in tombs  # the delete log records tombstone presence
    snap = t.snapshot()
    assert _n_windows(snap) == 3  # delete-block pass present
    assert snap.filter(F.col("o_orderkey") % 5 == 0).count() == 0
    assert snap.count() == orders.filter(F.col("o_orderkey") % 5 != 0).count()
    # compaction folds the tombstones through the same gated merge
    t.compact()
    ro = t.read_optimized()
    assert ro.filter(F.col("o_orderkey") % 5 == 0).count() == 0
    assert ro.count() == orders.filter(F.col("o_orderkey") % 5 != 0).count()


def test_bypass_plus_no_tombstones_runs_a_single_window(
    spark, orders, tmp_table_path, monkeypatch
):
    """With the log-key bypass forced AND update-only logs, both extra
    window passes are gated out (r8): only the row_number latest-wins
    window remains in the merge plan."""
    t = _mor(spark, tmp_table_path)
    t.bulk_insert(orders)
    t.upsert(
        orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
            "o_orderstatus", F.lit("A")
        )
    )
    # force the bypass
    monkeypatch.setattr(read, "_log_key_bypass_pays", lambda cfg, with_logs: True)
    snap = t.snapshot()
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan  # the bypass actually fired
    assert _n_windows(snap) == 1
    n = snap.count()
    assert n == orders.count()
    assert (
        snap.filter(F.col("o_orderstatus") == "A").count()
        == orders.filter(F.col("o_orderkey") % 10 == 0).count()
    )
