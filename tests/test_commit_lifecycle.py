"""The write-instant lifecycle (``operators/write.py`` ``WriteInstant``).

Every data-writing commit claims an instant, makes it inflight and then
either commits it or aborts it. Two things are pinned here:

- the per-action hook table (``COMMIT_HOOKS``): which of precommit
  validators, commit callback, metrics and post-commit services fire for
  each entry point, and in which order. The reference fires the first
  three from ``commitStats`` on user writes only
  (``AbstractHoodieWriteClient.java:209-213``) and the services from its
  post-commit hook (``:833,1002``);
- early-abort hygiene: a write that fails at ``transition_to_inflight``
  or at ``guarded_commit`` leaves no claim, no heartbeat, no pending
  instant, no ``data/<instant>/`` and an unchanged snapshot;
- claim ownership: an abort or a commit deletes ``<ts>.claim`` only
  when the write claimed the instant itself, never a rival's claim on a
  caller-supplied instant; a failed inline ``cluster()`` drops its plan
  and the plan's claim together.
"""

from __future__ import annotations

import shutil

import pytest

import hudi_0_10_0_spark.operators.clustering as C
import hudi_0_10_0_spark.operators.write as W
from hudi_0_10_0_spark import HudiTable, WriteConfig

SEED = [(i, f"p{i % 2}", i) for i in range(20)]
UPD = [(i, f"p{i % 2}", i + 100) for i in range(0, 20, 4)]

ALL_HOOKS = ["validators", "callback", "metrics", "services"]
EXPECTED_HOOKS = {
    "upsert": ALL_HOOKS,
    "bulk_insert": ALL_HOOKS,
    "insert_overwrite": ALL_HOOKS,
    "delete_partition": ALL_HOOKS,
    "bootstrap": ["callback"],
    "add_columns": [],
    "cluster": [],
}


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, part string, v long")


OPS = {
    "upsert": lambda s, t, src: t.upsert(_df(s, UPD)),
    "bulk_insert": lambda s, t, src: t.bulk_insert(_df(s, UPD)),
    "insert_overwrite": lambda s, t, src: t.insert_overwrite(_df(s, UPD)),
    "delete_partition": lambda s, t, src: t.delete_partition(["p0"]),
    "bootstrap": lambda s, t, src: t.bootstrap(src, mode="METADATA_ONLY"),
    "add_columns": lambda s, t, src: t.add_columns([("x", "string")]),
    "cluster": lambda s, t, src: t.run_cluster(),
}


@pytest.fixture(scope="module")
def pristine(spark, tmp_path_factory):
    """A seeded OCC table (so heartbeats are live) and a bootstrap
    source, built once; each case works on a copy."""
    root = tmp_path_factory.mktemp("lifecycle")
    seeded = str(root / "seeded")
    t = HudiTable.create(
        spark, seeded,
        WriteConfig(
            record_key_field="id", partition_field="part", precombine_field="v",
            concurrency_mode="OPTIMISTIC_CONCURRENCY_CONTROL",
            lock_provider="IN_PROCESS",
        ),
    )
    t.bulk_insert(_df(spark, SEED))
    src = str(root / "bootstrap_src")
    _df(spark, SEED).write.partitionBy("part").parquet(src)
    return {"seeded": seeded, "src": src}


def _table(spark, pristine, tmp_path, op: str) -> HudiTable:
    path = str(tmp_path / "t")
    if op == "bootstrap":  # bootstrap needs a table with no commits
        cfg = HudiTable.load(spark, pristine["seeded"]).cfg
        return HudiTable.create(spark, path, cfg)
    shutil.copytree(pristine["seeded"], path)
    t = HudiTable.load(spark, path)
    if op == "cluster":
        assert t.schedule_cluster(sort_cols=["v"]) is not None
    return t


def _state(spark, path: str):
    t = HudiTable.load(spark, path)
    if t.schema() is None:
        return None
    rows = sorted(tuple(r) for r in t.snapshot().select("id", "part", "v").collect())
    return t.read_schema().fieldNames(), rows


@pytest.mark.parametrize("op", sorted(OPS))
def test_commit_hook_table(spark, pristine, tmp_path, monkeypatch, op):
    t = _table(spark, pristine, tmp_path, op)
    fired: list[str] = []

    class _Metrics:
        def update_commit_metrics(self, action, duration_s, metadata):
            fired.append("metrics")

    monkeypatch.setattr(
        W, "run_precommit_validators", lambda *a: fired.append("validators")
    )
    monkeypatch.setattr(W, "fire_commit_callback", lambda *a: fired.append("callback"))
    monkeypatch.setattr(W, "table_metrics", lambda table: _Metrics())
    monkeypatch.setattr(
        t, "run_post_commit_services", lambda: fired.append("services")
    )
    assert OPS[op](spark, t, pristine["src"]) is not None
    assert fired == EXPECTED_HOOKS[op]


@pytest.mark.parametrize("fail_at", ["inflight", "commit"])
@pytest.mark.parametrize("op", sorted(set(OPS) - {"cluster"}))
def test_early_abort_leaves_nothing_behind(
    spark, pristine, tmp_path, monkeypatch, op, fail_at
):
    t = _table(spark, pristine, tmp_path, op)
    before = _state(spark, t.base_path)
    seen: list[str] = []

    def fail(instant, *a, **kw):
        seen.append(instant)
        raise RuntimeError(f"injected failure at {fail_at}")

    if fail_at == "inflight":
        monkeypatch.setattr(t.timeline, "transition_to_inflight", fail)
    else:
        monkeypatch.setattr(W, "guarded_commit", lambda table, *a, **kw: fail(*a))
    with pytest.raises(RuntimeError, match="injected failure"):
        OPS[op](spark, t, pristine["src"])
    monkeypatch.undo()
    assert len(seen) == 1, "the failure was not injected"

    h = HudiTable.load(spark, t.base_path)
    claims = [n for n in h.fs.list_names(h.timeline.dir) if n.endswith(".claim")]
    assert claims == [], f"claim left behind: {claims}"
    assert not h.fs.list_names(f"{h.meta_path}/heartbeat"), "heartbeat left behind"
    assert list(h.timeline.pending()) == [], "pending instant left behind"
    assert not h.fs.exists(h.instant_data_path(seen[0])), "data dir left behind"
    assert _state(spark, t.base_path) == before


@pytest.mark.parametrize("rival", [True, False])
def test_late_abort_deletes_only_its_own_claim(
    spark, pristine, tmp_path, monkeypatch, rival
):
    """A write that fails at the precommit validators (after its instant
    is inflight) removes its claim only if it made it: a caller-supplied
    instant never claimed the millisecond, so a ``<ts>.claim`` there is
    a rival's and must survive the abort."""
    t = _table(spark, pristine, tmp_path, "upsert")
    before = _state(spark, t.base_path)
    ts = t.new_instant()
    kw = {}
    if rival:
        assert t.fs.create_exclusive(f"{t.timeline.dir}/{ts}.claim", "")
        kw["instant_time"] = ts

    def fail(*a):
        raise RuntimeError("injected validator failure")

    monkeypatch.setattr(W, "run_precommit_validators", fail)
    with pytest.raises(RuntimeError, match="injected validator failure"):
        t.upsert(_df(spark, UPD), **kw)
    monkeypatch.undo()

    h = HudiTable.load(spark, t.base_path)
    claims = [n for n in h.fs.list_names(h.timeline.dir) if n.endswith(".claim")]
    assert claims == ([f"{ts}.claim"] if rival else []), claims
    assert list(h.timeline.pending()) == [], "pending instant left behind"
    assert _state(spark, t.base_path) == before


def test_commit_on_caller_instant_keeps_rival_claim(spark, pristine, tmp_path):
    """A write that COMMITS on a caller-supplied instant never claimed
    the millisecond, so the ``<ts>.claim`` there is a rival's and must
    survive the commit, as it survives an abort."""
    t = _table(spark, pristine, tmp_path, "upsert")
    ts = t.new_instant()
    assert t.fs.create_exclusive(f"{t.timeline.dir}/{ts}.claim", "")
    assert t.upsert(_df(spark, UPD), instant_time=ts) == ts
    h = HudiTable.load(spark, t.base_path)
    claims = [n for n in h.fs.list_names(h.timeline.dir) if n.endswith(".claim")]
    assert claims == [f"{ts}.claim"], claims
    assert h.timeline.is_completed(ts, "commit")


def test_failed_inline_cluster_drops_its_claim(spark, tmp_path, monkeypatch):
    """Inline ``cluster()`` schedules its plan (claiming the instant)
    and, when execution fails, drops the plan: the claim must go too."""
    t = HudiTable.create(
        spark, str(tmp_path / "t"),
        WriteConfig(record_key_field="id", partition_field="part", precombine_field="v"),
    )
    t.bulk_insert(_df(spark, SEED))
    before = _state(spark, t.base_path)

    def fail(*a, **kw):
        raise RuntimeError("injected stats failure")

    monkeypatch.setattr(C, "collect_write_stats", fail)
    with pytest.raises(RuntimeError, match="injected stats failure"):
        t.cluster(sort_cols=["v"])
    monkeypatch.undo()

    h = HudiTable.load(spark, t.base_path)
    claims = [n for n in h.fs.list_names(h.timeline.dir) if n.endswith(".claim")]
    assert claims == [], f"claim left behind: {claims}"
    assert list(h.timeline.pending()) == [], "plan left behind"
    assert _state(spark, t.base_path) == before
