"""The benchmark's own tests: every workload at a tiny scale (about
1,500 orders rows, as TPC-H sf0.001) for a handful of ops with the checker
on, the metric names and units against BENCHMARK.json, seed determinism,
and a deliberately wrong model that the checker must catch.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
os.environ["TZ"] = "UTC"
time.tzset()

import run as bench  # noqa: E402
from workloads import SPECS, Failure, Workload  # noqa: E402

SCALE = 0.05
MAX_OPS = {"cow_ingest": 3, "mor_ingest": 1, "snapshot_reads": 8}

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def units(entries) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in entries}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = bench.build_spark(str(tmp_path_factory.mktemp("spark")), 2)
    yield s
    bench.stop_spark(s)


@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_workload_reports_every_metric(spark, tmp_path, workload):
    r = bench.run(spark, str(tmp_path), workload, seed=3, seconds=0, trace=False,
                  scale=SCALE, max_ops=MAX_OPS[workload], setup_reps=1)
    assert r["error"] is None
    assert r["failed"] == 0 and r["attempted"] >= MAX_OPS[workload]
    got = {k: m["unit"] for k, m in r["end_to_end"].items()}
    assert got == units(BENCH["end_to_end"])
    assert all(m["value"] > 0 for m in r["end_to_end"].values())
    ops = r["detail"]["ops"]
    assert ops["failed_op_ratio"]["value"] == 0
    assert {k for k in ops if k.endswith("_p50_s")} >= {
        "bulk_insert_p50_s", *{
            "cow_ingest": ("upsert_p50_s", "delete_p50_s", "merge_into_p50_s"),
            "mor_ingest": ("upsert_p50_s", "snapshot_read_p50_s", "incremental_read_p50_s"),
            "snapshot_reads": ("snapshot_read_p50_s", "filtered_read_p50_s",
                               "point_lookup_p50_s", "incremental_read_p50_s",
                               "time_travel_p50_s"),
        }[workload]}
    assert set(r["host"]) == {"nproc", "steal_pct", "loadavg"}


def test_traced_run_reports_every_layer_metric(spark, tmp_path):
    r = bench.run(spark, str(tmp_path), "cow_ingest", seed=3, seconds=0, trace=True,
                  scale=SCALE, max_ops=3, setup_reps=1)
    assert r["error"] is None
    got = {k: m["unit"] for k, m in r["per_layer"].items()}
    assert got.items() >= units(BENCH["per_layer"]).items()
    layer = {k: m["value"] for k, m in r["per_layer"].items()}
    assert layer["merge.kernel.calls"] + layer["merge.broadcast.calls"] > 0
    assert layer["services.clean.files_deleted"] > 0
    assert layer["dml.merge_into.self_s"] > 0
    assert layer["py4j.calls_per_op.upsert"] > 0
    assert layer["spark.jobs_per_op.upsert"] > 0


def ops_of(spark, work: str, seed: int) -> list:
    w = Workload(spark, work, SPECS["snapshot_reads"], seed, SCALE, setup_reps=1)
    w.run(0, MAX_OPS["snapshot_reads"])
    assert w.failed == 0
    return w.ops


def test_same_seed_same_ops(spark, tmp_path):
    a = ops_of(spark, str(tmp_path / "a"), 5)
    assert a == ops_of(spark, str(tmp_path / "b"), 5)
    assert a != ops_of(spark, str(tmp_path / "c"), 6)


def test_wrong_model_fails_the_check(spark, tmp_path):
    w = Workload(spark, str(tmp_path), SPECS["cow_ingest"], 3, SCALE, setup_reps=1)
    w.setup()
    key, (version, commit) = next(iter(w.model.live.items()))
    w.model.live[key] = (version + 1, commit)
    with pytest.raises(Failure, match="1 with the wrong version"):
        w.check_snapshot("snapshot against a wrong model")
    assert w.failed == 1
