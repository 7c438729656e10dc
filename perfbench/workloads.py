"""The seeded workloads: generated inputs, the dict model every answer is
checked against, and the closed loop (one client) that drives the public
``HudiTable`` API.

Inputs are TPC-H-shaped ``orders`` and ``lineitem`` rows generated from the
seed with numpy, plus one ``bench_version`` column that records which write
produced each row. The engine receives only the generated inputs.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from tracing import jit_cpu_between, jit_threads, jvm_pid, tree_cpu_s

KB = 1 << 10
EPOCH = dt.date(1992, 1, 1)
DAYS = (dt.date(1998, 12, 31) - EPOCH).days + 1  # dates 1992..1998
EPOCH_DAYS = (EPOCH - dt.date(1970, 1, 1)).days
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
WORDS = np.array("quick final ironic furious regular express special pending bold "
                 "careful even silent blithe deposits accounts packages requests "
                 "theodolites foxes pinto beans instructions".split())

# -- generated inputs ------------------------------------------------------------
def _comments(rng, n: int) -> pa.Array:
    return pa.array([" ".join(w) for w in WORDS[rng.integers(0, len(WORDS), (n, 4))]])


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array((days + EPOCH_DAYS).astype(np.int32), pa.int32()).cast(pa.date32())


class Orders:
    """``orders`` keyed by ``o_orderkey``, partitioned by priority. The
    partition and the order date are functions of the key, so a key never
    changes partition; the other columns are drawn fresh for every write."""

    cfg = dict(record_key_field="o_orderkey", partition_field="o_orderpriority",
               precombine_field="o_orderdate")
    delete_cols = ("o_orderkey", "o_orderpriority")

    def __init__(self, n: int):
        self.base_keys = np.arange(1, n + 1, dtype=np.int64)

    @staticmethod
    def key_col():
        from pyspark.sql import functions as F

        return F.col("o_orderkey")

    def new_keys(self, first: int, n: int) -> np.ndarray:
        return np.arange(first, first + n, dtype=np.int64)

    def rows(self, rng, keys: np.ndarray, version: int) -> pa.Table:
        n = len(keys)
        return pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(1, 15_000, n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(np.array(["O", "F", "P"]), n)),
            "o_totalprice": pa.array(rng.uniform(900.0, 500_000.0, n).round(2)),
            "o_orderdate": _dates((keys * 2654435761) % DAYS),
            "o_orderpriority": pa.array(PRIORITIES[keys % len(PRIORITIES)]),
            "o_clerk": pa.array(np.char.add("Clerk#", np.char.zfill((keys % 1000).astype(str), 9))),
            "o_shippriority": pa.array(np.zeros(n, dtype=np.int32)),
            "o_comment": _comments(rng, n),
            "bench_version": pa.array(np.full(n, version, dtype=np.int32)),
        })


class Lineitem:
    """``lineitem`` keyed by ``(l_orderkey, l_linenumber)`` and partitioned
    by ship year. The model's key is ``l_orderkey * 8 + l_linenumber``.
    As in TPC-H, each order's date is drawn independently of its key and
    a line ships 1-121 days after it, so a file's date range is as wide as
    its partition's: only the partition and the key order give footer
    stats anything to skip."""

    cfg = dict(record_key_field="l_orderkey,l_linenumber", partition_field="l_shipyear",
               precombine_field="l_shipdate")
    delete_cols = ("l_orderkey", "l_linenumber", "l_shipyear")

    def __init__(self, n_orders: int, seed: int):
        o = np.arange(1, n_orders + 1, dtype=np.int64)
        lines = 1 + ((o * 2654435761) >> 7) % 7
        ln = np.concatenate([np.arange(1, k + 1) for k in lines])
        self.base_keys = np.repeat(o, lines) * 8 + ln
        # order date of order o at index o (index 0 unused)
        self.order_day = np.random.default_rng([seed, 3]).integers(0, DAYS - 121, n_orders + 1)
        self.years = np.unique(self.ship_year(self.base_keys))

    @staticmethod
    def key_col():
        from pyspark.sql import functions as F

        return F.col("l_orderkey") * F.lit(8) + F.col("l_linenumber")

    def ship_days(self, keys: np.ndarray) -> np.ndarray:
        o, ln = keys // 8, keys % 8
        return self.order_day[o] + 1 + (o * 31 + ln * 17) % 121

    def ship_year(self, keys: np.ndarray) -> np.ndarray:
        d = np.datetime64(EPOCH.isoformat()) + self.ship_days(keys).astype("timedelta64[D]")
        return d.astype("datetime64[Y]").astype(np.int64) + 1970

    def rows(self, rng, keys: np.ndarray, version: int) -> pa.Table:
        n = len(keys)
        qty = rng.integers(1, 51, n).astype(np.float64)
        return pa.table({
            "l_orderkey": pa.array(keys // 8, pa.int64()),
            "l_linenumber": pa.array((keys % 8).astype(np.int32)),
            "l_partkey": pa.array(rng.integers(1, 20_000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, 1_000, n), pa.int64()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array((qty * rng.uniform(900.0, 2_000.0, n)).round(2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n)),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n)),
            "l_shipdate": _dates(self.ship_days(keys)),
            "l_shipmode": pa.array(SHIPMODES[rng.integers(0, len(SHIPMODES), n)]),
            "l_comment": _comments(rng, n),
            "l_shipyear": pa.array(self.ship_year(keys).astype(np.int32)),
            "bench_version": pa.array(np.full(n, version, dtype=np.int32)),
        })


# -- the correctness model ---------------------------------------------------------
def digest(items) -> tuple[int, int, int]:
    """(row count, Σ(key·1009 + version), Σ((key·2654435761 + version·40503)
    mod 1000003)) over (key, version) pairs: the sums ``spark_digest``
    computes over a read result."""
    n = s1 = s2 = 0
    for key, ver in items:
        n += 1
        s1 += key * 1009 + ver
        s2 += (key * 2654435761 + ver * 40503) % 1000003
    return n, s1, s2


def spark_digest(df, key) -> tuple[int, int, int]:
    """One action over a read result: ``digest``'s three numbers. A fourth
    aggregate, the XOR of every row's xxhash64 over all columns, is not
    checked; it is there so that every column is read and decoded (as
    ``bench.py`` materializes reads) rather than pruned from the scan."""
    from pyspark.sql import functions as F

    ver = F.col("bench_version").cast("long")
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(key * F.lit(1009) + ver),
        F.sum(F.pmod(key * F.lit(2654435761) + ver * F.lit(40503), F.lit(1000003))),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])),
    ).first()
    return int(row[0]), int(row[1] or 0), int(row[2] or 0)


class Model:
    """key → (version, commit number) of every live row, plus each commit's
    changes (version, or None for a delete), so any past state can be
    rebuilt."""

    def __init__(self):
        self.live: dict[int, tuple[int, int]] = {}
        self.instants: list[str] = []
        self.changes: list[dict[int, int | None]] = []

    def commit(self, instant: str, changes: dict[int, int | None]) -> None:
        no = len(self.instants)
        self.instants.append(instant)
        self.changes.append(changes)
        for k, v in changes.items():
            if v is None:
                self.live.pop(k, None)
            else:
                self.live[k] = (v, no)

    def state(self, as_of: int) -> dict[int, tuple[int, int]]:
        if as_of == len(self.instants) - 1:
            return self.live
        out: dict[int, tuple[int, int]] = {}
        for no, ch in enumerate(self.changes[: as_of + 1]):
            for k, v in ch.items():
                if v is None:
                    out.pop(k, None)
                else:
                    out[k] = (v, no)
        return out

    def live_keys(self) -> np.ndarray:
        return np.fromiter(sorted(self.live), dtype=np.int64, count=len(self.live))


# -- op generation -------------------------------------------------------------------
class OpGen:
    """Seeded op parameters. They depend only on the seed and the model,
    never on the engine, so a seed fixes the whole op sequence."""

    def __init__(self, seed: int, model: Model, table, next_key: int):
        self.rng = np.random.default_rng([seed, 1])
        self.data_rng = np.random.default_rng([seed, 2])
        self.model, self.table, self.next_key = model, table, next_key

    def _sample(self, pool: np.ndarray, n: int) -> np.ndarray:
        return self.rng.choice(pool, size=min(n, len(pool)), replace=False)

    def write_keys(self, kind: str, n: int, new_share: float, recent_share: float) -> np.ndarray:
        """Keys of one write batch of ``n`` rows: ``new_share`` of them new,
        the rest existing, ``recent_share`` of those from the newest 10% of
        the live keys. A delete takes ``n`` existing keys, uniformly."""
        live = self.model.live_keys()
        if kind == "delete":
            return self._sample(live, n)
        n_old = n - int(round(n * new_share))
        old = self._sample(live[-max(1, len(live) // 10):], int(round(n_old * recent_share)))
        rest = np.setdiff1d(live, old, assume_unique=True)
        old = np.concatenate([old, self._sample(rest, n_old - len(old))])
        if len(old) == n:
            return old
        new = self.table.new_keys(self.next_key, n - len(old))
        self.next_key += len(new)
        return np.concatenate([old, new])

    def live_key(self) -> int:
        return int(self.rng.choice(self.model.live_keys()))

    def past_commit(self) -> int:
        return int(self.rng.integers(0, len(self.model.instants)))

    def ship_range(self, years: np.ndarray, span: int = 60) -> tuple[int, int, int]:
        """(ship year, first day, end day) of a filtered read: ``span``
        days inside one year that has rows."""
        year = int(self.rng.choice(years))
        first = (dt.date(year, 1, 1) - EPOCH).days
        lo = first + int(self.rng.integers(0, 365 - span))
        return year, lo, lo + span


# -- workloads ---------------------------------------------------------------------------
@dataclass(frozen=True)
class Spec:
    """One workload: table, table type and config, the fixed op order of
    one block, the op mix the headline metric weighs, sizes at scale 1
    (base rows or orders, rows per write, set-up history commits) and the
    op kinds run once, untimed, before the loop so that the first timed op
    of a kind does not pay for the JVM compiling its plans."""

    name: str
    table: str
    table_type: str
    cfg: dict
    block: tuple[str, ...]
    mix: dict
    base: int
    batch: int
    history: int = 0
    warmup: tuple[str, ...] = ()


SPECS = {
    # file sizes scaled down (as a large table's 120 MB files are against
    # its data) so the 30k-row table has tens of file groups; clean and
    # archive retention scaled down with them (engine defaults 10 commits
    # retained, archive from 30 down to 20) so that, after the set-up
    # writes (one history upsert, then the warm-up delete and merge_into),
    # every loop write cleans and every third one archives
    "cow_ingest": Spec(
        "cow_ingest", "orders", "COPY_ON_WRITE",
        dict(max_file_size_bytes=48 * KB, small_file_limit_bytes=36 * KB,
             cleaner_commits_retained=3, keep_min_commits=4, keep_max_commits=6),
        block=("upsert", "delete", "merge_into", "upsert", "upsert"),
        mix={"upsert": 0.6, "delete": 0.2, "merge_into": 0.2},
        base=30_000, batch=1_000, history=1, warmup=("delete", "merge_into")),
    # default file sizes; compaction after every 2nd deltacommit (engine
    # default 5) so each run holds a compaction cycle
    "mor_ingest": Spec(
        "mor_ingest", "orders", "MERGE_ON_READ", dict(compact_max_delta_commits=2),
        block=("step",), mix={"upsert": 1, "snapshot": 1, "incremental": 1},
        base=30_000, batch=2_000),
    # base: orders, ~4 lines each; history: upserts of keys drawn
    # uniformly, in set-up
    "snapshot_reads": Spec(
        "snapshot_reads", "lineitem", "COPY_ON_WRITE",
        dict(max_file_size_bytes=48 * KB, small_file_limit_bytes=36 * KB),
        block=("snapshot", "filtered", "point_lookup", "incremental",
               "snapshot", "filtered", "point_lookup", "time_travel",
               "snapshot", "filtered", "point_lookup", "incremental",
               "snapshot", "filtered", "point_lookup", "time_travel",
               "snapshot", "filtered", "point_lookup", "incremental"),
        mix={"snapshot": 0.25, "filtered": 0.25, "point_lookup": 0.25,
             "incremental": 0.15, "time_travel": 0.10},
        base=7_500, batch=300, history=3,
        warmup=("snapshot", "filtered", "point_lookup", "incremental", "time_travel")),
}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, int] | None:
    """The highest whole percentile with at least ten samples above it, as
    (value, percentile); None until that percentile is above the median
    (21 samples)."""
    n = len(xs)
    pct = int(100 * (n - 10) / n) if n else 0
    if pct <= 50:
        return None
    return float(np.percentile(xs, pct)), pct


def weighted(values: dict[str, float], mix: dict[str, float]) -> float:
    """Mix-weighted mean of per-kind values over the kinds present."""
    ks = [k for k in mix if k in values]
    total = sum(mix[k] for k in ks)
    return sum(mix[k] * values[k] for k in ks) / total if total else 0.0


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Failure(Exception):
    pass


class Workload:
    """One workload on one Spark session: set-up, the timed closed loop and
    the checks. Only the op itself is timed; building its input frame, the
    model's answer and the comparison run outside the clock."""

    def __init__(self, spark, work_dir: str, spec: Spec, seed: int, scale: float = 1.0,
                 tracer=None, setup_reps: int = 4):
        from hudi_0_10_0_spark import HudiTable, TableType, WriteConfig

        self.spark, self.work, self.spec = spark, work_dir, spec
        self.tracer, self.setup_reps = tracer, setup_reps
        self.HudiTable = HudiTable
        size = max(20, int(round(spec.base * scale)))
        self.kind = Orders(size) if spec.table == "orders" else Lineitem(size, seed)
        self.key = self.kind.key_col()
        self.cfg = WriteConfig(table_type=TableType(spec.table_type),
                               **self.kind.cfg, **spec.cfg)
        self.batch = max(10, int(round(spec.batch * scale)))
        self.model = Model()
        self.gen = OpGen(seed, self.model, self.kind, int(self.kind.base_keys.max()) + 1)
        self.lat: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}  # CPU seconds of the process tree, per op
        self.jit: dict[str, list[float]] = {}  # of that, the JVM's JIT compilers
        self.jvm = jvm_pid()
        self.amp: dict[str, list[float]] = {}  # write kind → new bytes per row, per op
        self.history_amp: dict[str, list[float]] = {}  # the same, of set-up history writes
        self.setup_s: list[float] = []
        self.history_s = 0.0
        self.attempted = self.failed = 0
        self.recording = True  # False while warming up: ops run and are checked, not timed
        self.failures: list[str] = []
        self.ops: list[tuple] = []  # (kind, parameters) of every loop op, in order
        self.compactions: list[tuple[str, int]] = []  # (instant, bytes written)
        self.table = self.path = None
        self.file_groups = 0

    # -- timing and checking -----------------------------------------------------
    def timed(self, kind: str, fn):
        self.attempted += 1
        t0 = time.perf_counter()
        if not self.recording:
            return fn()
        c0, j0 = tree_cpu_s(), jit_threads(self.jvm)
        out = self.tracer.run_op(kind, fn) if self.tracer else fn()
        self.lat.setdefault(kind, []).append(time.perf_counter() - t0)
        self.cpu.setdefault(kind, []).append(tree_cpu_s() - c0)
        self.jit.setdefault(kind, []).append(jit_cpu_between(j0, jit_threads(self.jvm)))
        return out

    def check(self, what: str, make_df, got, want, items) -> None:
        """Compare a read's digest with the model's; on a mismatch record
        the per-key diff and raise."""
        if tuple(got) == tuple(want):
            return
        self.failed += 1
        self.failures.append(f"{what}: read gave (rows, sum1, sum2) = {got}, the "
                             f"model expects {tuple(want)}; {self.diff(make_df(), items)}")
        raise Failure("; ".join(self.failures))

    def diff(self, df, items) -> str:
        from pyspark.sql import functions as F

        got = {int(r[0]): int(r[1]) for r in df.select(
            self.key.alias("k"), F.col("bench_version")).collect()}
        want = dict(items)
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        return (f"{len(missing)} keys missing {missing[:10]}, {len(extra)} unexpected "
                f"{extra[:10]}, {len(wrong)} with the wrong version "
                f"{[(k, got[k], want[k]) for k in wrong[:10]]}")

    def read(self, kind: str, what: str, make_df, items) -> None:
        """A timed read: build the frame and run its one digest action. The
        model's answer and the comparison run after the clock stops."""
        act = spark_digest
        if self.tracer:
            act = self.tracer.wrap("bench.read_action", spark_digest)
        got = self.timed(kind, lambda: act(make_df(), self.key))
        items = list(items)
        self.check(what, make_df, got, digest(items), items)

    def check_snapshot(self, what: str) -> None:
        """An untimed full read checked against the model."""
        self.attempted += 1
        items = [(k, v) for k, (v, _) in self.model.live.items()]
        self.check(what, self.table.snapshot,
                   spark_digest(self.table.snapshot(), self.key), digest(items), items)

    # -- set-up ------------------------------------------------------------------------
    def setup(self) -> None:
        """Create and bulk-load the table ``setup_reps`` times, each a set-up
        sample (the first one, on a cold JVM, only warms it up and is not
        counted when there are others); the last table stays. Then make
        the history commits, once and untimed, and check the table against
        the model."""
        src = os.path.join(self.work, "input", f"{self.spec.table}.parquet")
        os.makedirs(os.path.dirname(src), exist_ok=True)
        pq.write_table(self.kind.rows(self.gen.data_rng, self.kind.base_keys, 0), src)
        for rep in range(self.setup_reps):
            if self.path:
                shutil.rmtree(self.path)
            self.path = os.path.join(self.work, "tables", f"{self.spec.name}-{rep}")
            t0 = time.perf_counter()
            self.table = self.HudiTable.create(self.spark, self.path, self.cfg)
            df = self.spark.read.parquet(src)
            instant = self.timed("bulk_insert", lambda: self.table.bulk_insert(df))
            self.setup_s.append(time.perf_counter() - t0)
        self.file_groups = len(self.table.file_slices())
        self.model.commit(instant, dict.fromkeys(self.kind.base_keys.tolist(), 0))
        self.files = dir_files(self.path)
        t0 = time.perf_counter()
        self.recording = False
        for _ in range(self.spec.history):
            self.write("upsert", self.gen.write_keys("upsert", self.batch, 0.0, 0.0),
                       self.history_amp)
        self.history_s = time.perf_counter() - t0
        self.check_snapshot("set-up snapshot")

    # -- ops ---------------------------------------------------------------------------
    def write(self, kind: str, keys: np.ndarray, amp: dict | None = None) -> str:
        version = len(self.model.instants)
        df = self.spark.createDataFrame(self.kind.rows(self.gen.data_rng, keys, version))
        if kind == "delete":
            df = df.select(*self.kind.delete_cols)
            changes = dict.fromkeys(keys.tolist())
        else:
            changes = dict.fromkeys(keys.tolist(), version)
        op = getattr(self.table, kind)
        instant = self.timed(kind, lambda: op(df))
        self.model.commit(instant, changes)
        new_bytes = self._new_bytes()
        if amp is None and self.recording:
            amp = self.amp
        if amp is not None:
            amp.setdefault(kind, []).append(new_bytes / len(keys))
        return instant

    def _new_bytes(self) -> int:
        now = dir_files(self.path)
        new = sum(s for p, s in now.items() if self.files.get(p) != s)
        self.files = now
        return new

    def state_items(self, j: int, since: int = -1) -> list[tuple[int, int]]:
        """(key, version) of the rows live at commit ``j`` whose version
        landed after commit ``since``."""
        return [(k, v) for k, (v, no) in self.model.state(j).items() if no > since]

    def compact_if_due(self) -> None:
        """Compaction when the engine's own trigger says it is due."""
        from hudi_0_10_0_spark.operators.services import compaction_due

        if not compaction_due(self.table):
            return

        def op():
            inst = self.table.schedule_compaction()
            return self.table.compact(inst) if inst else None

        inst = self.timed("compaction", op)
        self.compactions.append((inst, self._new_bytes()))

    def op(self, kind: str) -> None:
        g, m, t = self.gen, self.model, self.table
        if kind in ("upsert", "delete", "merge_into"):  # cow_ingest
            n = int(round(self.batch * 0.3)) if kind == "delete" else self.batch
            new_share = 0.5 if kind == "merge_into" else 0.1
            keys = g.write_keys(kind, n, new_share, recent_share=0.8)
            self.ops.append((kind, keys.tolist()))
            self.write(kind, keys)
        elif kind == "step":  # mor_ingest
            prev = len(m.instants) - 1
            keys = g.write_keys("upsert", self.batch, 0.1, recent_share=0.0)
            self.ops.append((kind, keys.tolist()))
            self.write("upsert", keys)
            last = len(m.instants) - 1
            self.read("snapshot", "snapshot", t.snapshot, self.state_items(last))
            self.read("incremental", f"incremental since commit {prev}",
                      lambda: t.incremental(m.instants[prev]), self.state_items(last, prev))
            self.compact_if_due()
        elif kind == "snapshot":
            self.ops.append((kind,))
            self.read(kind, "snapshot", t.snapshot, self.state_items(len(m.instants) - 1))
        elif kind == "filtered":
            year, lo, hi = g.ship_range(self.kind.years)
            self.ops.append((kind, year, lo, hi))
            d0, d1 = EPOCH + dt.timedelta(days=lo), EPOCH + dt.timedelta(days=hi)
            flt = [("l_shipyear", "=", year), ("l_shipdate", ">=", d0), ("l_shipdate", "<", d1)]
            live = m.live_keys()
            days = self.kind.ship_days(live)
            hit = live[(self.kind.ship_year(live) == year) & (days >= lo) & (days < hi)]
            self.read(kind, f"filtered {year} {d0}..{d1}", lambda: t.snapshot(filters=flt),
                      [(int(k), m.live[int(k)][0]) for k in hit])
        elif kind == "point_lookup":
            key = g.live_key()
            self.ops.append((kind, key))
            flt = [("l_orderkey", "=", key // 8), ("l_linenumber", "=", key % 8)]
            self.read(kind, f"point lookup {key}", lambda: t.snapshot(filters=flt),
                      [(key, m.live[key][0])])
        elif kind == "incremental":
            i, j = sorted(g.rng.choice(len(m.instants), 2, replace=False).tolist())
            self.ops.append((kind, i, j))
            self.read(kind, f"incremental ({i}, {j}]",
                      lambda: t.incremental(m.instants[i], m.instants[j]),
                      self.state_items(j, i))
        elif kind == "time_travel":
            j = g.past_commit()
            self.ops.append((kind, j))
            self.read(kind, f"time travel to commit {j}",
                      lambda: t.time_travel(m.instants[j]), self.state_items(j))
        else:
            raise ValueError(f"unknown op kind {kind}")

    # -- run ---------------------------------------------------------------------------
    def run(self, seconds: float, max_ops: int | None = None) -> None:
        """Set up, then run whole blocks of ops, at least one, until
        ``seconds`` have passed, or ``max_ops`` ops; then check the final
        snapshot."""
        self.setup()
        for kind in self.spec.warmup:
            self.op(kind)
        self.recording = True
        block = self.spec.block
        deadline = time.perf_counter() + seconds
        n = 0
        while (time.perf_counter() < deadline or n < len(block) or n % len(block)) and (
                max_ops is None or n < max_ops):
            self.op(block[n % len(block)])
            n += 1
        self.check_snapshot("final snapshot")

    # -- metrics -----------------------------------------------------------------------
    def metrics(self) -> dict[str, tuple[float, str]]:
        """The end-to-end metrics, each defined on every workload."""
        # whole blocks run, so the loop's ops are in the mix's proportions
        cpu = [x for k in self.spec.mix for x in self.cpu.get(k, [])]
        amp = {k: median(xs) for k, xs in (self.amp or self.history_amp).items()}
        live_bytes = sum(s.total_bytes for s in self.table.file_slices())
        return {
            "setup_s": (median(self.setup_s[1:] or self.setup_s), "s"),
            "op_mix_cpu_s": (statistics.fmean(cpu) if cpu else 0.0, "s"),
            # the set-up history writes count where the loop writes nothing
            "write_bytes_per_row": (
                weighted(amp, {k: self.spec.mix.get(k, 1.0) for k in amp}), "B/row"),
            "table_bytes_per_live_row": (live_bytes / max(1, len(self.model.live)), "B/row"),
        }

    def op_metrics(self) -> dict[str, dict]:
        """Per-op-kind metrics of this workload (the kinds it ran): wall
        latency ``<kind>_p50_s`` and, from 21 samples, ``<kind>_tail_s``
        with its percentile; median CPU seconds ``<kind>_cpu_s`` and the JIT
        compilers' part of them ``<kind>_jit_cpu_s``; and
        ``op_mix_p50_s``, the mix-weighted wall latency."""
        names = {"snapshot": "snapshot_read", "filtered": "filtered_read",
                 "incremental": "incremental_read"}
        out = {}
        for k, xs in sorted(self.lat.items()):
            name = names.get(k, k)
            out[f"{name}_p50_s"] = {"value": median(xs), "unit": "s", "n": len(xs)}
            tl = tail(xs)
            if tl:
                out[f"{name}_tail_s"] = {"value": tl[0], "unit": "s", "pct": tl[1], "n": len(xs)}
            out[f"{name}_cpu_s"] = {"value": median(self.cpu[k]), "unit": "s", "n": len(xs)}
            out[f"{name}_jit_cpu_s"] = {"value": median(self.jit[k]), "unit": "s", "n": len(xs)}
        p50 = {k: median(xs) for k, xs in self.lat.items()}
        out["op_mix_p50_s"] = {"value": weighted(p50, self.spec.mix), "unit": "s"}
        out["failed_op_ratio"] = {"value": self.failed / max(1, self.attempted), "unit": "ratio"}
        return out

    def detail(self) -> dict:
        return {
            "base_rows": len(self.kind.base_keys), "batch_rows": self.batch,
            "file_groups_after_load": self.file_groups,
            "setup_reps_s": [round(x, 4) for x in self.setup_s],
            "history_s": round(self.history_s, 4),
            "ops": self.op_metrics(),
            "compactions": len(self.compactions),
            "live_rows": len(self.model.live), "commits": len(self.model.instants),
            "disk_bytes_per_live_row": round(
                sum(dir_files(self.path).values()) / max(1, len(self.model.live)), 2)
            if self.path else None,
        }

    def table_info(self) -> dict:
        return {"active_instants": len(self.table.timeline.instants()),
                "compaction_bytes": sum(b for _, b in self.compactions)}
