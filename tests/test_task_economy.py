"""The COW write path launches only Spark tasks that do work.

- Listing: base files the manifest names on local storage are listed on
  the driver, not by a Spark job with one task per path (Spark starts
  that job past ``parallelPartitionDiscovery.threshold`` = 32 paths). The
  session's threshold is left exactly as found.
- Task sizing: every group-sized write stage has ``write_tasks``
  partitions. Groups that fill ``spark.sql.files.maxPartitionBytes``
  get one partition each, no padding; smaller groups share a task,
  down to one task per core, and each is still one file. The bulk
  insert sorts its rows once, and its seqnos follow the key.
- One file per group: a COW rewrite writes each group it touches,
  packed with inserts or not, as exactly one file.
- Tagging: the Spark jobs ``tag_location`` starts per index type stay at
  or below their pinned counts, and the tag path's cached frames do not
  take their task count from ``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

import re
import sys
import threading
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

import hudi_0_10_0_spark.operators.write as W
from hudi_0_10_0_spark import HudiTable, TableType, WriteConfig
from hudi_0_10_0_spark.sources import read

THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
N_ROWS = 2000
N_GROUPS = 40


def rows(spark, lo: int, hi: int, salt: int = 0):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.concat(F.lit("p"), (F.col("id") % 2).cast("string")).alias("part"),
        (F.col("id") + F.lit(salt)).alias("ts"),
        F.concat(F.lit("v"), F.col("id").cast("string"), F.lit(f"_{salt}")).alias("val"),
    )


def make_table(spark, path: str, groups: int = N_GROUPS, **cfg) -> HudiTable:
    """A bulk-loaded table of about ``groups`` base files, one per bulk
    output partition."""
    base = dict(
        record_key_field="id",
        partition_field="part",
        precombine_field="ts",
        write_parallelism=groups,
        auto_clean=False,
        auto_archive=False,
        inline_compact=False,
    )
    t = HudiTable.create(spark, path, WriteConfig(**{**base, **cfg}))
    t.bulk_insert(rows(spark, 0, N_ROWS))
    return t


@pytest.fixture(scope="module")
def wide(spark, tmp_path_factory):
    t = make_table(spark, str(tmp_path_factory.mktemp("wide") / "t"))
    assert len(t.file_slices()) >= N_GROUPS
    return t


def answer(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select("id", "part", "ts", "val").collect())


@contextmanager
def job_group(spark):
    """Yields a list that, after the block, holds (name, description,
    tasks run) of every Spark job the block started."""
    sc = spark.sparkContext
    group = f"task-economy-{uuid.uuid4().hex[:8]}"
    jobs: list[tuple[str, str]] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(int(jid))
            desc = jd.description()
            jobs.append(
                (jd.name(), desc.get() if desc.isDefined() else "", jd.numCompletedTasks())
            )


def listing_jobs(jobs) -> list[tuple[str, str]]:
    return [
        j for j in jobs
        if j[0].startswith("load at") or j[1].startswith("Listing leaf files")
    ]


@contextmanager
def captured_saves():
    """Yields a list that collects the formatted physical plan of every
    DataFrame written through ``DataFrameWriter.save`` in the block."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans, orig = [], DataFrameWriter.save

    def save(writer, *args, **kwargs):
        df = writer._df
        jvm = df.sparkSession.sparkContext._jvm
        plans.append(
            jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        )
        return orig(writer, *args, **kwargs)

    DataFrameWriter.save = save
    try:
        yield plans
    finally:
        DataFrameWriter.save = orig


def exchange_counts(plan: str, cols: str) -> list[int]:
    """Partition counts of the plan's ``repartition(n, cols...)``
    exchanges over exactly the columns in ``cols`` (comma-separated)."""
    args = r", ".join(rf"{re.escape(c)}#\d+L?" for c in cols.split(","))
    return [
        int(n) for n in re.findall(rf"hashpartitioning\({args}, (\d+)\), REPARTITION_BY_NUM", plan)
    ]


def last_commit(t) -> dict:
    tl = t.timeline
    return tl.read_metadata(tl.latest_completed())


# -- listing -------------------------------------------------------------------------
def test_snapshot_starts_no_listing_job(spark, wide):
    with job_group(spark) as jobs:
        n = wide.snapshot().count()
    assert n == N_ROWS
    assert jobs, "the count ran no job at all: the job group was not seen"
    assert listing_jobs(jobs) == [], jobs


def test_upsert_tag_read_starts_no_listing_job(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"))
    assert len(t.file_slices()) >= N_GROUPS
    with job_group(spark) as jobs:
        t.upsert(rows(spark, 0, N_ROWS, salt=10).filter("id % 40 = 0"))
    assert jobs
    assert listing_jobs(jobs) == [], jobs
    assert t.snapshot().filter("val LIKE '%_10'").count() == N_ROWS // 40


def test_threshold_left_exactly_as_found(spark, wide):
    paths = [p for s in wide.file_slices() for p in s.base.paths]
    assert len(paths) > 32
    conf = spark.conf
    assert conf.get(THRESHOLD, None) is None
    read._read_paths(wide, paths).count()
    assert conf.get(THRESHOLD, None) is None, "an unset threshold must stay unset"
    # a load that raises (a missing path) restores it too, and frees the lock
    missing = paths + [paths[0].rsplit("/", 1)[0] + "/missing.parquet"]
    with pytest.raises(Exception, match="(?i)path does not exist|PATH_NOT_FOUND"):
        read._read_paths(wide, missing)
    assert conf.get(THRESHOLD, None) is None
    try:
        for user in ("5", "1000"):  # lower than len(paths), and higher
            conf.set(THRESHOLD, user)
            with job_group(spark) as jobs:
                assert read._read_paths(wide, paths).count() == N_ROWS
            assert conf.get(THRESHOLD, None) == user
            assert listing_jobs(jobs) == [], (user, jobs)
    finally:
        conf.unset(THRESHOLD)


def test_concurrent_loads_restore_the_threshold(spark, wide):
    """More loading threads than cores, each loading a different number
    of paths (so each raises to its own value): after every round the
    session is as it began (unset), so no raise outlived its load."""
    paths = [p for s in wide.file_slices() for p in s.base.paths]
    errors: list[BaseException] = []

    def load(n: int):
        try:
            read._read_paths(wide, paths[:n])
        except BaseException as e:  # reported by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for rnd in range(5):
            threads = [threading.Thread(target=load, args=(33 + i,)) for i in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
            assert not any(t.is_alive() for t in threads)
            assert errors == []
            assert spark.conf.get(THRESHOLD, None) is None, rnd
    finally:
        sys.setswitchinterval(old)
        spark.conf.unset(THRESHOLD)


def test_rows_match_parallel_listing(spark, wide):
    local = answer(wide.snapshot())
    # a remote file system keeps Spark's parallel listing; forced here
    # on the same files with the threshold at 0
    spark.conf.set(THRESHOLD, "0")
    wide.fs._is_local = False
    try:
        with job_group(spark) as jobs:
            parallel = answer(wide.snapshot())
    finally:
        wide.fs._is_local = True
        spark.conf.unset(THRESHOLD)
    assert listing_jobs(jobs), "the parallel listing job did not run"
    assert parallel == local
    assert len(local) == N_ROWS


# -- shuffle size --------------------------------------------------------------------
TARGET = "spark.sql.files.maxPartitionBytes"


@contextmanager
def task_target(spark, value: str):
    """The block runs with ``maxPartitionBytes`` at ``value``."""
    old = spark.conf.get(TARGET)
    spark.conf.set(TARGET, value)
    try:
        yield
    finally:
        spark.conf.set(TARGET, old)


def _new_groups(t, before: set) -> set:
    return {
        (s["partition"], s["file_id"]) for s in last_commit(t)["write_stats"]
    } - before


def _groups(t) -> set:
    return {(s.partition, s.file_id) for s in t.file_slices()}


def _split_upsert(spark, t):
    """Upsert 50 existing keys and 600 new ones. Small-file packing is
    off and new groups hold ~40 rows, so the inserts open many groups."""
    before = _groups(t)
    batch = rows(spark, 0, N_ROWS, salt=10).filter("id % 40 = 0").unionByName(
        rows(spark, N_ROWS, N_ROWS + 600, salt=10)
    )
    with captured_saves() as plans:
        t.upsert(batch)
    return plans[-1], _new_groups(t, before)


def test_trickle_upsert_insert_exchange_has_one_partition_per_group(spark, tmp_path):
    t = make_table(
        spark, str(tmp_path / "t"), 4, small_file_limit_bytes=0, max_file_size_bytes=2000
    )
    with task_target(spark, "2000"):  # each group fills a task
        plan, new = _split_upsert(spark, t)
    k = len(new)
    assert k > 9, k  # more groups than the old padded count
    assert exchange_counts(plan, "_hoodie_file_id,_hoodie_partition_path") == [k], plan
    assert t.snapshot().count() == N_ROWS + 600


def test_kernel_upsert_exchange_has_one_partition_per_group(spark, tmp_path):
    t = make_table(
        spark, str(tmp_path / "t"), 4, small_file_limit_bytes=0,
        max_file_size_bytes=2000, broadcast_budget_bytes=0,
    )
    with task_target(spark, "2000"):  # each group fills a task
        plan, new = _split_upsert(spark, t)
    written = len(last_commit(t)["write_stats"])
    assert written > len(new) > 9
    assert exchange_counts(plan, "_hoodie_file_id,_hoodie_partition_path") == [written], plan
    assert t.snapshot().count() == N_ROWS + 600


def test_mor_deltacommit_exchange_has_one_partition_per_group(spark, tmp_path):
    t = make_table(
        spark, str(tmp_path / "t"), 4, table_type=TableType.MERGE_ON_READ,
        max_file_size_bytes=2000,
    )
    with task_target(spark, "2000"):  # each group fills a task
        plan, _ = _split_upsert(spark, t)
    md = last_commit(t)
    assert md.get("operation") == "upsert"
    written = len(md["write_stats"])
    assert written > 9
    assert exchange_counts(plan, "_fg") == [written], plan
    assert t.snapshot().count() == N_ROWS + 600


def test_insert_overwrite_writes_one_file_per_group(spark, tmp_path):
    """An overwrite into more than 8 new groups that each fill a task:
    one writer task and one file per group, and the rows of the
    overwritten partition replaced."""
    t = make_table(spark, str(tmp_path / "t"), 4, max_file_size_bytes=2000)
    src = rows(spark, 0, N_ROWS, salt=7).filter("part = 'p0'")
    with task_target(spark, "2000"), captured_saves() as plans:
        t.insert_overwrite(src)
    stats = last_commit(t)["write_stats"]
    assert len(stats) > 8
    assert all(len(s["paths"]) == 1 for s in stats), stats
    assert exchange_counts(plans[-1], "_fg") == [len(stats)], plans[-1]
    want = answer(src.unionByName(rows(spark, 0, N_ROWS).filter("part = 'p1'")))
    assert answer(t.snapshot()) == want


def _packed_write(spark, tmp_path, site: str):
    """One write whose groups (2000 B new files, KB-sized stored ones)
    are far under the default target: (its save plan, the exchange's
    columns, groups the exchange writes, the commit's stats)."""
    kw = {
        "insert": dict(small_file_limit_bytes=0),
        "kernel": dict(small_file_limit_bytes=0, broadcast_budget_bytes=0),
        "mor": dict(table_type=TableType.MERGE_ON_READ),
        "overwrite": {},
    }[site]
    t = make_table(spark, str(tmp_path / "t"), 4, max_file_size_bytes=2000, **kw)
    if site == "overwrite":
        with captured_saves() as plans:
            t.insert_overwrite(rows(spark, 0, N_ROWS, salt=7).filter("part = 'p0'"))
        plan, new = plans[-1], set()
    else:
        plan, new = _split_upsert(spark, t)
    stats = last_commit(t)["write_stats"]
    groups = len(new) if site == "insert" else len(stats)
    cols = "_fg" if site in ("mor", "overwrite") else "_hoodie_file_id,_hoodie_partition_path"
    return plan, cols, groups, stats


@pytest.mark.parametrize("site", ["insert", "kernel", "mor", "overwrite"])
def test_small_groups_share_core_sized_tasks(spark, tmp_path, site):
    """At the default target, groups of a few KB pack into one task per
    core: each exchange has ``min(groups, cores)`` partitions, and every
    group is still written as one file."""
    plan, cols, groups, stats = _packed_write(spark, tmp_path, site)
    cores = spark.sparkContext.defaultParallelism
    assert groups > cores, groups
    assert exchange_counts(plan, cols) == [cores], plan
    assert all(len(s["paths"]) <= 1 for s in stats), stats


def _bulk(spark, path: str, **cfg):
    """Bulk-load N_ROWS into 40 range groups; (table, save plan)."""
    with captured_saves() as plans:
        t = make_table(spark, path, **cfg)
    return t, plans[-1]


def _group_keys(t) -> set:
    """Each group's (partition, sorted keys), ids left out."""
    groups: dict = {}
    for pp, fid, k in t.snapshot().select("_hoodie_partition_path", "_hoodie_file_id", "id").collect():
        groups.setdefault((pp, fid), []).append(k)
    return {(pp, tuple(sorted(keys))) for (pp, _), keys in groups.items()}


def test_bulk_insert_packs_ranges_into_core_tasks(spark, tmp_path, monkeypatch):
    """40 small range groups are written by one task per core (one
    ``Coalesce`` after the range exchange, ONE sort), each group as one
    file, with the same group boundaries as one task per range."""
    t, plan = _bulk(spark, str(tmp_path / "packed"), max_file_size_bytes=2000)
    cores = spark.sparkContext.defaultParallelism
    assert re.findall(r"\(\d+\) Coalesce\nInput .*\nArguments: (\d+)", plan) == [str(cores)], plan
    assert re.findall(r"rangepartitioning\(.*, (\d+)\)", plan) == [str(N_GROUPS)], plan
    assert len(re.findall(r"\+- Sort \(\d+\)", plan)) == 1, plan
    assert all(len(s.base.paths) == 1 for s in t.file_slices())
    monkeypatch.setattr(W, "write_tasks", lambda spark, n, b: max(1, n))
    ref, ref_plan = _bulk(spark, str(tmp_path / "ref"), max_file_size_bytes=2000)
    assert "Coalesce" not in ref_plan, ref_plan
    assert _group_keys(t) == _group_keys(ref)
    assert answer(t.snapshot()) == answer(rows(spark, 0, N_ROWS))


def test_bulk_seqnos_follow_the_key_in_every_file(spark, tmp_path):
    import pyarrow.parquet as pq

    t, _ = _bulk(spark, str(tmp_path / "t"), max_file_size_bytes=2000)
    files = [p for s in t.file_slices() for p in s.base.paths]
    assert len(files) >= N_GROUPS
    for p in files:
        f = pq.read_table(f"{t.base_path}/{p}", columns=["_hoodie_record_key", "_hoodie_commit_seqno"])
        keys, seqnos = f.column(0).to_pylist(), f.column(1).to_pylist()
        assert keys == sorted(keys) and seqnos == sorted(seqnos), p
        assert len(set(seqnos)) == len(seqnos)


def test_default_file_size_keeps_one_task_per_group(spark, tmp_path):
    """With 120 MB groups one group fills a task: the bulk range exchange
    keeps one partition per group and nothing is coalesced."""
    t, plan = _bulk(spark, str(tmp_path / "t"), max_file_size_bytes=120 << 20)
    assert "Coalesce" not in plan, plan
    assert re.findall(r"rangepartitioning\(.*, (\d+)\)", plan) == [str(N_GROUPS)], plan
    assert W.write_tasks(spark, N_GROUPS, 120 << 20) == N_GROUPS
    assert W.write_tasks(spark, 3, 120 << 20) == 3


# -- one file per rewritten group ----------------------------------------------------
@pytest.mark.parametrize(
    "op,budget",
    [("upsert", None), ("insert", None), ("upsert", 0)],
    ids=["upsert-broadcast", "insert-passthrough", "upsert-kernel"],
)
def test_packed_groups_are_written_as_one_file(spark, tmp_path, op, budget):
    """Inserts packed into existing small groups: each rewritten group,
    packed or not, comes out as exactly one file, whichever way the
    stored rows reconcile (broadcast merge, insert passthrough, kernel)."""
    kw = {} if budget is None else {"broadcast_budget_bytes": budget}
    t = make_table(spark, str(tmp_path / "t"), 8, **kw)
    before = _groups(t)
    new = rows(spark, N_ROWS, N_ROWS + 300, salt=10)
    if op == "upsert":
        batch = rows(spark, 0, N_ROWS, salt=10).filter("id % 40 = 0").unionByName(new)
        kept = rows(spark, 0, N_ROWS).filter("id % 40 != 0")
        t.upsert(batch)
    else:
        batch, kept = new, rows(spark, 0, N_ROWS)
        t.insert(batch)
    assert _new_groups(t, before) == set(), "the inserts were not packed"
    stats = [s for s in last_commit(t)["write_stats"] if s["rows"]]
    assert stats
    assert all(len(s["paths"]) == 1 for s in stats), stats
    assert answer(t.snapshot()) == answer(kept.unionByName(batch))


# -- tagging -------------------------------------------------------------------------
SHUFFLE = "spark.sql.shuffle.partitions"


def _tag_table(spark, path: str, index_type: str, parts: int) -> HudiTable:
    t = HudiTable.create(
        spark, path,
        WriteConfig(
            record_key_field="id", partition_field="part", precombine_field="ts",
            index_type=index_type, auto_clean=False, auto_archive=False,
        ),
    )
    t.bulk_insert(rows(spark, 0, 4000).withColumn(
        "part", F.concat(F.lit("p"), (F.col("id") % parts).cast("string"))
    ))
    return t


def _trickle(spark, t, salt: int) -> None:
    """A 10-row upsert spread over the table's partitions."""
    parts = len(t.partitions())
    t.upsert(rows(spark, 0, 4000, salt=salt).filter(f"id % 400 = {salt}").withColumn(
        "part", F.concat(F.lit("p"), (F.col("id") % parts).cast("string"))
    ))


# jobs tag_location starts per 10-row upsert, at most: the counts the
# five-branch tagger had (local[2]), except BLOOM on 80 partitions, whose
# partition discovery and key-range collects are now one summary job
TAG_JOBS = [
    ("SIMPLE", 4, 0),
    ("BLOOM", 4, 4),
    ("GLOBAL_BLOOM", 4, 4),
    ("INMEMORY", 4, 1),
    ("RECORD_INDEX", 4, 2),
    ("SIMPLE", 80, 4),
    ("BLOOM", 80, 4),
]


@pytest.mark.parametrize(
    "index_type,parts,most", TAG_JOBS, ids=[f"{i}-{p}" for i, p, _ in TAG_JOBS]
)
def test_tag_jobs_per_index(spark, tmp_path, monkeypatch, index_type, parts, most):
    t = _tag_table(spark, str(tmp_path / "t"), index_type, parts)
    _trickle(spark, t, 1)  # warm: the second upsert is the steady state
    tag_jobs: list = []
    orig = W.tag_location

    def counted(*a):
        with job_group(spark) as jobs:
            out = orig(*a)
        tag_jobs.extend(jobs)
        return out

    monkeypatch.setattr(W, "tag_location", counted)
    _trickle(spark, t, 7)
    assert len(tag_jobs) <= most, tag_jobs
    assert t.snapshot().count() == 4000


def test_trickle_upsert_reads_the_tag_cache_in_one_task(spark, tmp_path, monkeypatch):
    """On a session as wide as the benchmark's (4 shuffle partitions),
    the cached ``tagged`` frame of a 10-row upsert is one partition."""
    t = _tag_table(spark, str(tmp_path / "t"), "SIMPLE", 4)
    cached, widths = [], []
    persist, plan = W.persist_tag_frame, W.plan_cow_rewrite

    def persisted(df):
        cached.append(persist(df))
        return cached[-1]

    def planned(*a, **kw):  # the profile collect has filled the cache
        widths.extend(df.rdd.getNumPartitions() for df in cached)
        return plan(*a, **kw)

    monkeypatch.setattr(W, "persist_tag_frame", persisted)
    monkeypatch.setattr(W, "plan_cow_rewrite", planned)
    old = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, "4")
    try:
        _trickle(spark, t, 7)
    finally:
        spark.conf.set(SHUFFLE, old)
    assert widths == [1], widths
    assert t.snapshot().filter("val LIKE '%_7'").count() == 10


def test_tag_cache_tasks_do_not_follow_shuffle_partitions(spark, tmp_path):
    """A 10-row upsert on a session at 200 shuffle partitions runs at
    most twice the tasks it runs at 8: the cached ``tagged`` frame and
    its readers are sized by their data, not by the session setting."""
    t = _tag_table(spark, str(tmp_path / "t"), "SIMPLE", 4)
    _trickle(spark, t, 1)
    tasks = {}
    old = spark.conf.get(SHUFFLE)
    try:
        for n, salt in (("8", 7), ("200", 9)):
            spark.conf.set(SHUFFLE, n)
            with job_group(spark) as jobs:
                _trickle(spark, t, salt)
            tasks[n] = sum(j[2] for j in jobs)
    finally:
        spark.conf.set(SHUFFLE, old)
    assert tasks["200"] <= 2 * tasks["8"], tasks
    assert t.snapshot().filter("val LIKE '%_9'").count() == 10
