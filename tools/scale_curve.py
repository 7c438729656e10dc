"""Write/read-path scale curves (VERDICT r3 #4 + r4 #5): time one
commit's stages at two data scales and show the fixed per-commit
overhead shrinking as a fraction of total — the evidence behind
SCALE.md's "O(groups) driver work" claim at the largest scale the
sandbox allows.

Modes:
  cow           (default) COW upsert commit stage curve
  mor           MOR deltacommit + snapshot-merge read at each scale
  record_index  RECORD_INDEX-tagged SMALL-batch upsert at each scale —
                the decisive claim: tag I/O ∝ touched index buckets,
                so a fixed-size batch costs ~the same against a 10×
                larger base table
  bloom         GLOBAL_BLOOM trickle upsert with INTERLEAVED keys at
                each scale, filters off vs on — range pruning keeps
                everything, so only the membership filters bound the
                tag scan

Usage: python tools/scale_curve.py [mode] [sf_dir] [multipliers...]
Defaults: cow, /root/testdata/sf0.1, multipliers 1 and 10
(sf0.1 lineitem ≈ 600k rows → points at ~600k and ~6M rows).

Prints one JSON line: {"mode": ..., "points": [...]}.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _build(spark, sf_dir: str, mult: int):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate",
    )
    # scale by unioning key-shifted copies — same key/partition
    # distribution shape at every point
    df = li
    for i in range(1, mult):
        df = df.unionByName(
            li.withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(i * 100_000_000)
            )
        )
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic testdata
    # (sf0.1: 600k rows, ~457k distinct pairs) — dedup so uid is a true
    # record key and merged row counts are exactly predictable
    return df.withColumn(
        "uid", F.concat_ws("_", F.col("l_orderkey"), F.col("l_linenumber"))
    ).dropDuplicates(["uid"])


def _timed_upsert(t, batch) -> tuple[float, dict]:
    from hudi_0_10_0_spark.operators.write import _StageTimer

    records: list = []
    _StageTimer.sink = records
    t0 = time.perf_counter()
    t.upsert(batch)
    upsert_s = time.perf_counter() - t0
    _StageTimer.sink = None
    stages: dict = {}
    for _op, stage, dt in records:
        stages[stage] = round(stages.get(stage, 0.0) + dt, 3)
    return upsert_s, stages


def _proc_mem(pid: int) -> tuple[int, int]:
    """(VmRSS, VmHWM) in MiB for one pid, 0s if unreadable."""
    rss = hwm = 0
    try:
        for line in open(f"/proc/{pid}/status"):
            if line.startswith("VmRSS:"):
                rss = int(line.split()[1]) // 1024
            elif line.startswith("VmHWM:"):
                hwm = int(line.split()[1]) // 1024
    except OSError:
        pass
    return rss, hwm


def driver_mem_mb() -> dict:
    """Driver memory = this python process + its JVM child (local-mode
    Spark driver): current RSS and peak (VmHWM) in MiB. The claim under
    test is that DRIVER memory stays O(file groups), not O(rows)."""
    me = os.getpid()
    py_rss, py_hwm = _proc_mem(me)
    jvm_rss = jvm_hwm = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().split()
            if int(parts[3]) != me:  # ppid
                continue
            if "java" not in open(f"/proc/{pid}/comm").read():
                continue
        except (OSError, IndexError, ValueError):
            continue
        r, h = _proc_mem(int(pid))
        jvm_rss += r
        jvm_hwm += h
    return {"py_rss_mb": py_rss, "py_hwm_mb": py_hwm,
            "jvm_rss_mb": jvm_rss, "jvm_hwm_mb": jvm_hwm}


def run_point(spark, sf_dir: str, mode: str, mult: int) -> dict:
    from hudi_0_10_0_spark import HudiTable, TableType, WriteConfig

    df = _build(spark, sf_dir, mult)
    base_rows = df.count()
    cfg_kw = dict(
        record_key_field="uid",
        partition_field="l_returnflag",
        precombine_field="l_quantity",
        auto_clean=False,
        auto_archive=False,
    )
    with tempfile.TemporaryDirectory() as tmp:
        if mode == "cow":
            t = HudiTable.create(spark, f"{tmp}/t", WriteConfig(**cfg_kw))
            t.bulk_insert(df)
            # update batch: ~10% of rows, spread across every partition —
            # the shape of a steady-state ingest commit
            batch = df.filter(F.col("l_orderkey") % 10 == 0).withColumn(
                "l_quantity", F.col("l_quantity") + 1
            )
            batch_rows = batch.count()
            upsert_s, stages = _timed_upsert(t, batch)
            return {
                "mult": mult, "base_rows": base_rows, "batch_rows": batch_rows,
                "upsert_s": round(upsert_s, 3),
                "rows_per_s": int(batch_rows / upsert_s),
                "stages": stages,
            }
        if mode == "mor":
            t = HudiTable.create(
                spark, f"{tmp}/t",
                WriteConfig(table_type=TableType.MERGE_ON_READ,
                            inline_compact=False, **cfg_kw),
            )
            t.bulk_insert(df)
            batch = df.filter(F.col("l_orderkey") % 10 == 0).withColumn(
                "l_quantity", F.col("l_quantity") + 1
            )
            batch_rows = batch.count()
            delta_s, stages = _timed_upsert(t, batch)
            # snapshot-merge read: every delta-bearing slice merges its
            # log rows; log-free groups stay a plain scan
            t0 = time.perf_counter()
            n = t.snapshot().agg(
                F.count(F.xxhash64("uid", "l_quantity"))
            ).first()[0]
            read_s = time.perf_counter() - t0
            assert n == base_rows
            return {
                "mult": mult, "base_rows": base_rows, "batch_rows": batch_rows,
                "deltacommit_s": round(delta_s, 3),
                "delta_rows_per_s": int(batch_rows / delta_s),
                "snapshot_merge_read_s": round(read_s, 3),
                "read_rows_per_s": int(base_rows / read_s),
                "stages": stages,
            }
        if mode in ("record_index", "record_index_mor"):
            extra = (
                dict(table_type=TableType.MERGE_ON_READ, inline_compact=False)
                if mode == "record_index_mor"
                else {}
            )
            t = HudiTable.create(
                spark, f"{tmp}/t",
                WriteConfig(index_type="RECORD_INDEX", **extra, **cfg_kw),
            )
            t.bulk_insert(df)
            # production steady state: the index has been compacted at
            # least once, so its bucket count is SIZE-DERIVED (r7 fix for
            # the r6 third-decade residual) — force one compaction here
            # the way ongoing ingest would have
            from hudi_0_10_0_spark.operators import key_index as KI

            saved_deltas = t.cfg.key_index_compact_deltas
            t.cfg.key_index_compact_deltas = 0
            KI.compact_if_due(t)
            t.cfg.key_index_compact_deltas = saved_deltas
            index_buckets = KI.current_bucket_count(t)
            # FIXED-SIZE small batch regardless of base scale: steady-state
            # trickle ingest against an ever-growing table. Tag cost must
            # track the touched index buckets (≈ batch keys), NOT base_rows.
            # Keys come from the FIRST key-shifted copy only, so the batch
            # is IDENTICAL at every multiplier.
            batch = (
                df.filter(
                    (F.col("l_orderkey") % 997 == 0)
                    & (F.col("l_orderkey") < 100_000_000)
                )
                .withColumn("l_quantity", F.col("l_quantity") + 1)
            )
            # STAGE the batch to parquet and read it back: production
            # trickle batches arrive as cheap sources; leaving the
            # 100×-union + dropDuplicates pipeline inside the timed
            # upsert charges the harness's own batch construction to the
            # tag stage (r7 measurement fairness fix)
            batch.write.mode("overwrite").parquet(f"{tmp}/batch")
            batch = spark.read.parquet(f"{tmp}/batch")
            batch_rows = batch.count()
            upsert_s, stages = _timed_upsert(t, batch)
            return {
                "mult": mult, "base_rows": base_rows, "batch_rows": batch_rows,
                "index_buckets": index_buckets,
                "upsert_s": round(upsert_s, 3),
                "stages": stages,
            }
        if mode == "bloom":
            # r8: the bloom-filter membership stage's decisive case —
            # INTERLEAVED keys (md5-prefixed), so every file group's
            # [min,max] straddles the whole key space and range pruning
            # keeps ~everything; only the per-group filters can bound
            # the tag scan. Same fixed trickle batch at every mult,
            # timed with filters ON vs OFF on the same table.
            df_i = df.withColumn(
                "uid", F.concat_ws("_", F.md5(F.col("uid")), F.col("uid"))
            )
            # min_bytes=0: the point is to measure the membership stage
            # itself — at small multipliers the 32MB default cost gate
            # would silently skip it and time the identical path twice.
            # 4MB max file size: the 100 TB shape is HUNDREDS of file
            # groups per partition (the default 120MB packs this whole
            # sf into ~34 groups and any 468-key batch touches all of
            # them — nothing is prunable by ANY index)
            # write_parallelism forces the 100 TB file-group SHAPE
            # (hundreds of groups; the sandbox's union-derived input
            # defeats the size estimator): the decisive bloom metric is
            # groups/bytes KEPT for a fixed batch as groups grow
            t = HudiTable.create(
                spark, f"{tmp}/t",
                WriteConfig(**{**cfg_kw, "index_type": "GLOBAL_BLOOM",
                               "bloom_prune_min_bytes": 0,
                               "write_parallelism": 64 * mult}),
            )
            t.bulk_insert(df_i)
            # HALF existing keys (updates), HALF absent (pure inserts) —
            # steady-state trickle: bloom prunes the groups no key hits
            # and the absent half's non-hits
            upd = df_i.filter(
                (F.col("l_orderkey") % 997 == 0)
                & (F.col("l_orderkey") < 100_000_000)
            ).withColumn("l_quantity", F.col("l_quantity") + 1)
            new = upd.withColumn(
                "uid", F.concat(F.lit("new-"), F.col("uid"))
            ).limit(234)
            batch = upd.limit(234).unionByName(new)
            batch.write.mode("overwrite").parquet(f"{tmp}/batch")
            batch = spark.read.parquet(f"{tmp}/batch")
            batch_rows = batch.count()
            view = t.view()
            n_groups = len(view.latest_file_slices())
            out = {"mult": mult, "base_rows": base_rows,
                   "batch_rows": batch_rows, "file_groups": n_groups}
            # bloom only affects the TAG stage; time tag_location twice
            # on the IDENTICAL table state (an upsert per config would
            # mutate the table between runs and confound the write
            # stage). OFF first: JVM warm-up favors the off case,
            # keeping the filters-on win conservative.
            from hudi_0_10_0_spark.keygen import stamp_keys
            from hudi_0_10_0_spark.operators import bloom as B
            from hudi_0_10_0_spark.operators.write import tag_location

            stamped = stamp_keys(batch, t.cfg)
            # the decisive 100 TB metric: index-scan bytes after the
            # membership prune vs the full (range-unprunable) candidate
            # set — a fixed trickle batch must keep ≤ batch-size groups
            # no matter how many groups the table has
            slices = view.latest_file_slices()
            t0 = time.perf_counter()
            kept = B.prune_slices(t, stamped, slices, global_idx=True, n_keys=batch_rows)
            out["prune_s"] = round(time.perf_counter() - t0, 3)
            out["groups_kept"] = len(kept)
            out["bytes_total_mb"] = sum(s.base.bytes for s in slices) >> 20
            out["bytes_kept_mb"] = sum(s.base.bytes for s in kept) >> 20
            # the membership stage is switched off by its size gate: no
            # candidate set is ever as large as the "off" bound
            for label, min_bytes in (("filters_off", 1 << 62), ("filters_on", 0)):
                t.cfg.bloom_prune_min_bytes = min_bytes
                t0 = time.perf_counter()
                tagged_n = tag_location(t, view, stamped).where(
                    F.col("_hoodie_file_id").isNotNull()
                ).count()
                stamped.unpersist()
                out[f"tag_s_{label}"] = round(time.perf_counter() - t0, 3)
                out[f"tagged_{label}"] = tagged_n
            assert out["tagged_filters_on"] == out["tagged_filters_off"]
            # end-to-end sanity: one real upsert with filters on
            upsert_s, stages = _timed_upsert(t, batch)
            out["upsert_s"] = round(upsert_s, 3)
            out["stages"] = stages
            return out
        if mode == "services":
            # VERDICT r6 #5: clustering (z-order), clean and archive at
            # each scale point — the table-service side of the curve
            t = HudiTable.create(
                spark, f"{tmp}/t",
                WriteConfig(
                    cleaner_policy="KEEP_LATEST_FILE_VERSIONS",
                    cleaner_file_versions_retained=1,
                    keep_min_commits=2, keep_max_commits=3,
                    **cfg_kw,
                ),
            )
            t.bulk_insert(df)
            batch = df.filter(F.col("l_orderkey") % 10 == 0).withColumn(
                "l_quantity", F.col("l_quantity") + 1
            )
            t.upsert(batch)
            t.upsert(batch.withColumn("l_quantity", F.col("l_quantity") + 1))
            t0 = time.perf_counter()
            ts = t.schedule_cluster(
                sort_cols=["l_orderkey", "l_quantity"], layout="zorder"
            )
            t.run_cluster(ts)
            cluster_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            t.clean()
            clean_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            archived = t.archive()
            archive_s = time.perf_counter() - t0
            n = t.snapshot().count()
            assert n == base_rows, (n, base_rows)
            return {
                "mult": mult, "base_rows": base_rows,
                "cluster_zorder_s": round(cluster_s, 3),
                "cluster_rows_per_s": int(base_rows / cluster_s),
                "clean_s": round(clean_s, 3),
                "archive_s": round(archive_s, 3),
                "archived_instants": archived,
            }
    raise SystemExit(f"unknown mode: {mode}")


def main() -> None:
    args = sys.argv[1:]
    mode = "cow"
    if args and args[0] in (
        "cow", "mor", "record_index", "record_index_mor", "services", "bloom"
    ):
        mode = args.pop(0)
    sf_dir = args.pop(0) if args and not args[0].isdigit() else "/root/testdata/sf0.1"
    mults = [int(x) for x in args] or [1, 10]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .appName("scale-curve")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    points = []
    for mult in mults:
        pt = run_point(spark, sf_dir, mode, mult)
        pt["driver_mem"] = driver_mem_mb()
        points.append(pt)
        print(f"# {mode} mult={mult}: {json.dumps(pt)}", file=sys.stderr)

    print(json.dumps({"mode": mode, "points": points}))
    spark.stop()


if __name__ == "__main__":
    main()
