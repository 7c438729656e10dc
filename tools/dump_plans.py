"""Dump the physical plans of the engine's main read, write and table-
service shapes, normalized so that two runs (or two checkouts) diff
cleanly.

Usage:
    python tools/dump_plans.py --out plans/<tag> [--suffix after] [--root DIR]

Builds small deterministic tables in a temporary directory and writes one
``explain("formatted")`` file per shape, named ``<shape>_<suffix>.txt``:

- ``bulk_insert``: the write plan of a COW bulk insert into 8 range
  groups of 64 KB files, small enough that groups share a task;
- ``cow_snapshot``: COW snapshot read;
- ``cow_upsert``: COW upsert write (a trickle batch);
- ``cow_upsert_mixed``: COW upsert write of a batch that updates some
  keys and inserts new ones (packed into the existing small groups);
- ``cow_delete``: COW delete write;
- ``mor_snapshot_bypass_on`` / ``mor_snapshot_bypass_off``: MOR snapshot
  with the log-key bypass forced on and off;
- ``mor_upsert``: MOR deltacommit write of the same mixed batch;
- ``mor_compaction``: the write plan of a MOR compaction;
- ``mor_clustering``: the write plan of clustering a MOR table whose
  groups are partly log-bearing, partly log-free;
- ``tag_simple``, ``tag_bloom``, ``tag_global_bloom``, ``tag_inmemory``,
  ``tag_record_index``: the frame ``tag_location`` returns for a trickle
  batch on a COW table of that index type (an unexecuted plan).

Write plans are captured at ``DataFrameWriter.save``, before the write
runs. Normalization replaces expression ids (``#123``), plan ids, the
temporary directory, instant times, uuids, file-group id prefixes and
the writer's task numbers in file names. ``--root`` points at
another checkout whose package is imported instead of this one, so the
same script can dump a parent commit as ``--suffix before``.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import re
import shutil
import sys
import tempfile

SHAPES = (
    "bulk_insert",
    "cow_snapshot",
    "cow_upsert",
    "cow_upsert_mixed",
    "cow_delete",
    "mor_snapshot_bypass_on",
    "mor_snapshot_bypass_off",
    "mor_upsert",
    "mor_compaction",
    "mor_clustering",
    "tag_simple",
    "tag_bloom",
    "tag_global_bloom",
    "tag_inmemory",
    "tag_record_index",
)
N_ROWS = 2000


def normalize(plan: str, tmp: str) -> str:
    plan = plan.replace(tmp, "<tmp>")
    plan = re.sub(r"#\d+L?", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"\b\d{17}\b", "<instant>", plan)
    plan = re.sub(
        r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b",
        "<uuid>",
        plan,
    )
    # file-group id prefixes (and clustering's literal one) are random
    # 8-hex tokens; the writer's task number in a file name depends on
    # scheduling
    plan = re.sub(r"(?<![#\w])[0-9a-f]{8}(?!\w)", "<hex>", plan)
    return re.sub(r"part-\d{5}-", "part-N-", plan)


def explain(df) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@contextlib.contextmanager
def captured_saves():
    """Yields a list that collects the formatted plan of every DataFrame
    written through ``DataFrameWriter.save`` inside the block."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans, orig = [], DataFrameWriter.save

    def save(writer, *args, **kwargs):
        plans.append(explain(writer._df))
        return orig(writer, *args, **kwargs)

    DataFrameWriter.save = save
    try:
        yield plans
    finally:
        DataFrameWriter.save = orig


def rows(spark, n: int, salt: int = 0):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id"),
        F.concat(F.lit("p"), (F.col("id") % 4).cast("string")).alias("part"),
        (F.col("id") + F.lit(salt)).alias("ts"),
        F.concat(F.lit("v"), F.col("id").cast("string"), F.lit(f"_{salt}")).alias("val"),
    )


def make_table(spark, path: str, mor: bool, index_type: str = "SIMPLE", **extra):
    from hudi_0_10_0_spark import HudiTable, TableType, WriteConfig

    cfg = WriteConfig(
        record_key_field="id",
        partition_field="part",
        precombine_field="ts",
        table_type=TableType.MERGE_ON_READ if mor else TableType.COPY_ON_WRITE,
        index_type=index_type,
        inline_compact=False,
        auto_clean=False,
        auto_archive=False,
        **extra,
    )
    t = HudiTable.create(spark, path, cfg)
    t.bulk_insert(rows(spark, N_ROWS))
    return t


def add_logs(spark, t) -> None:
    """An update and a hard delete, both in partition p0 only, so the
    other partitions' groups stay log-free."""
    from pyspark.sql import functions as F

    t.upsert(rows(spark, N_ROWS, salt=10).filter("id % 8 = 0"))
    t.delete(rows(spark, N_ROWS).filter(F.col("id") % 8 == 4).select("id", "part"))


def mixed(spark):
    """Updates of every 40th key plus N_ROWS // 4 new keys."""
    return rows(spark, N_ROWS, salt=10).filter("id % 40 = 0").unionByName(
        rows(spark, N_ROWS + N_ROWS // 4, salt=10).filter(f"id >= {N_ROWS}")
    )


def dump(spark, tmp: str) -> dict[str, str]:
    from pyspark.sql import functions as F

    from hudi_0_10_0_spark.sources import read

    out = {}
    with captured_saves() as plans:
        make_table(spark, f"{tmp}/bulk", False, write_parallelism=8, max_file_size_bytes=64 << 10)
    out["bulk_insert"] = plans[-1]
    cow = make_table(spark, f"{tmp}/cow", mor=False)
    out["cow_snapshot"] = explain(cow.snapshot())
    with captured_saves() as plans:
        cow.upsert(rows(spark, N_ROWS, salt=10).filter("id % 40 = 0"))
    out["cow_upsert"] = plans[-1]
    with captured_saves() as plans:
        cow.delete(rows(spark, N_ROWS).filter(F.col("id") % 50 == 1).select("id", "part"))
    out["cow_delete"] = plans[-1]
    with captured_saves() as plans:
        cow.upsert(mixed(spark))
    out["cow_upsert_mixed"] = plans[-1]

    mor_w = make_table(spark, f"{tmp}/mor_w", mor=True)
    with captured_saves() as plans:
        mor_w.upsert(mixed(spark))
    out["mor_upsert"] = plans[-1]

    mor = make_table(spark, f"{tmp}/mor", mor=True)
    add_logs(spark, mor)
    gate = read._log_key_bypass_pays
    try:
        for on in (True, False):
            read._log_key_bypass_pays = lambda cfg, with_logs, on=on: on
            name = "mor_snapshot_bypass_" + ("on" if on else "off")
            out[name] = explain(mor.snapshot())
    finally:
        read._log_key_bypass_pays = gate
    with captured_saves() as plans:
        mor.compact(mor.schedule_compaction())
    out["mor_compaction"] = plans[-1]

    clu = make_table(spark, f"{tmp}/clu", mor=True)
    add_logs(spark, clu)
    with captured_saves() as plans:
        clu.cluster()
    out["mor_clustering"] = plans[-1]

    from hudi_0_10_0_spark.keygen import stamp_keys
    from hudi_0_10_0_spark.operators import write

    for kind in ("SIMPLE", "BLOOM", "GLOBAL_BLOOM", "INMEMORY", "RECORD_INDEX"):
        t = make_table(spark, f"{tmp}/tag_{kind}", mor=False, index_type=kind)
        batch = rows(spark, N_ROWS, salt=10).filter("id % 41 = 0")  # every partition
        incoming = write._align_to_table_schema(stamp_keys(batch, t.cfg), t.schema())
        out["tag_" + kind.lower()] = explain(write.tag_location(t, t.view(), incoming))
        incoming.unpersist()
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True, help="output directory, e.g. plans/r10")
    ap.add_argument("--suffix", default="after", help="file name suffix (default: after)")
    ap.add_argument(
        "--root",
        default=os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."),
        help="checkout whose hudi_0_10_0_spark package is dumped",
    )
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.root))

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("dump_plans")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="dump_plans_")
    try:
        plans = dump(spark, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()
    os.makedirs(args.out, exist_ok=True)
    for name in SHAPES:
        with open(os.path.join(args.out, f"{name}_{args.suffix}.txt"), "w") as f:
            f.write(normalize(plans[name], tmp))
    print(f"wrote {len(SHAPES)} plans to {args.out}")


if __name__ == "__main__":
    main()
