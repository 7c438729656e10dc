"""The index axis of the path-equivalence matrix: every index type tags
the same rows the same way.

One seeded op sequence — an upsert with duplicate keys in the batch, an
insert, a delete, then on a MERGE_ON_READ table one deltacommit plus
compaction — replays under SIMPLE, GLOBAL_SIMPLE, BLOOM, GLOBAL_BLOOM,
INMEMORY and RECORD_INDEX. Each SIMPLE tag is repeated on the same
table state with the tag planner's partition threshold lowered, so its
incoming-key summary and key-range stage run; it must return the same
rows, file ids included (BLOOM runs those stages at any partition
count). Keys never change partition, so a global and a
local index must agree.

What is compared across the runs:
- the tagged frame ``tag_location`` returns, as (key, partition, hit):
  a hit must also point at the file group that stores the key;
- the snapshots after the COW ops, after the MOR deltacommit and after
  the compaction.

The candidate stages (partition, key range, bloom, live groups) may
only drop file groups that cannot hold an incoming key; a stage that
drops one that can turns an update into a duplicate insert, and the
comparison fails.
"""

from __future__ import annotations

import random

import hudi_0_10_0_spark.operators.write as W
from hudi_0_10_0_spark import HudiTable, TableType, WriteConfig
from hudi_0_10_0_spark.config import FILE_ID_COL, PARTITION_PATH_COL, RECORD_KEY_COL

SEED = 20260
N_ROWS = 240
PARTS = 4
INDEXES = ["SIMPLE", "GLOBAL_SIMPLE", "BLOOM", "GLOBAL_BLOOM", "INMEMORY", "RECORD_INDEX"]


def _row(i: int, ts: int):
    return (i, f"p{i % PARTS}", ts, f"v{i}_{ts}")


def _ops():
    """The seeded batches, one list of rows per op."""
    rnd = random.Random(SEED)
    old = rnd.sample(range(N_ROWS), 40)
    new = list(range(N_ROWS, N_ROWS + 30))
    # every updated or new key arrives twice; the higher ts must win
    upsert = [_row(i, ts) for i in old + new for ts in (rnd.randint(1, 50), 60 + i % 7)]
    rnd.shuffle(upsert)
    insert = [_row(i, 1) for i in range(N_ROWS + 100, N_ROWS + 130)]
    gone = rnd.sample(range(N_ROWS), 25) + new[:5] + [N_ROWS + 100, N_ROWS + 999]
    delete = [_row(i, 0) for i in gone]
    mor = [_row(i, 90) for i in rnd.sample(range(N_ROWS + 130), 50)]
    return upsert, insert, delete, mor


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, part string, ts long, val string")


def _table(spark, path, index_type, mor=False):
    cfg = WriteConfig(
        record_key_field="id",
        partition_field="part",
        precombine_field="ts",
        index_type=index_type,
        table_type=TableType.MERGE_ON_READ if mor else TableType.COPY_ON_WRITE,
        # BLOOM runs its membership stage on this tiny table;
        # GLOBAL_BLOOM keeps the size gate, which skips it
        **({"bloom_prune_min_bytes": 0} if index_type == "BLOOM" else {}),
        write_parallelism=8,  # two key-range-sorted groups per partition
        inline_compact=False,
        auto_clean=False,
        auto_archive=False,
    )
    t = HudiTable.create(spark, path, cfg)
    t.bulk_insert(_df(spark, [_row(i, 0) for i in range(N_ROWS)]))
    return t


def _stored(t) -> dict:
    return {
        (r[0], r[1]): r[2]
        for r in t.snapshot().select(RECORD_KEY_COL, PARTITION_PATH_COL, FILE_ID_COL).collect()
    }


def _snapshot(t) -> list:
    return sorted(tuple(r) for r in t.snapshot().select("id", "part", "ts", "val").collect())


def _replay(spark, root, index_type, monkeypatch) -> list:
    """Runs the op sequence; returns, per op, the canonical tagged rows
    and the snapshot after it."""
    tagged: list = []
    orig = W.tag_location

    def rows(df):
        return sorted(df.select(RECORD_KEY_COL, PARTITION_PATH_COL, FILE_ID_COL).collect())

    def capture(table, view, incoming):
        out = orig(table, view, incoming)
        got = rows(out)
        if index_type == "SIMPLE":
            with monkeypatch.context() as mp:
                mp.setattr(W, "SUMMARY_MIN_PARTITIONS", 0)
                assert rows(orig(table, view, incoming)) == got
        stored = _stored(table)
        for k, pp, fid in got:
            if fid is not None:
                assert stored.get((k, pp)) == fid, (index_type, k, pp, fid)
        tagged.append(sorted((k, pp, fid is not None) for k, pp, fid in got))
        return out

    monkeypatch.setattr(W, "tag_location", capture)
    upsert, insert, delete, mor_batch = _ops()
    results = []
    t = _table(spark, f"{root}/cow", index_type)
    t.upsert(_df(spark, upsert))
    t.insert(_df(spark, insert))
    t.delete(_df(spark, delete))
    results.append(("COW upsert, insert, delete", _snapshot(t)))
    m = _table(spark, f"{root}/mor", index_type, mor=True)
    m.upsert(_df(spark, mor_batch))
    assert m.timeline.completed_write_instants()[-1].action == "deltacommit"
    results.append(("mor upsert", _snapshot(m)))
    assert m.compact(m.schedule_compaction()) is not None
    results.append(("compaction", _snapshot(m)))
    monkeypatch.setattr(W, "tag_location", orig)
    return [("tagged", tagged)] + results


def test_every_index_tags_and_reads_the_same(spark, tmp_path, monkeypatch):
    runs = {name: _replay(spark, tmp_path / name, name, monkeypatch) for name in INDEXES}
    want = runs["SIMPLE"]
    tags = want[0][1]
    assert len(tags) == 3, "upsert, delete and the MOR upsert each tag once"
    assert any(hit for rows in tags for _, _, hit in rows)
    assert any(not hit for rows in tags for _, _, hit in rows)
    for name, got in runs.items():
        for (step, w), (_, g) in zip(want, got):
            assert g == w, f"{name} differs from SIMPLE at {step}"
