"""Traced-run tooling: spans around the engine's public functions, a py4j
round-trip counter, per-op Spark job groups and busy time from Spark's
status store.

Everything here wraps the engine from the outside: module attributes are
replaced with timing wrappers while a run is traced and restored after.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import resource
import sys
import threading
import time
from collections import defaultdict

PKG = "hudi_0_10_0_spark"

# (span name, module, attribute path) — one row per wrapped public
# function, named "<layer>.<function>"
TARGETS = [
    ("write.run_batch_write", "operators.write", "run_batch_write"),
    ("write.tag_location", "operators.write", "tag_location"),
    ("write.assign_inserts", "operators.write", "assign_inserts"),
    ("write.write_instant_files", "operators.write", "write_instant_files"),
    ("write.collect_write_stats", "operators.write", "collect_write_stats"),
    ("merge.kernel", "operators.merge", "merge_stored_and_incoming"),
    ("merge.broadcast", "operators.merge", "broadcast_merge_stored"),
    ("merge.precombine_dedup", "operators.merge", "precombine_dedup"),
    ("merge.mor_merge_window", "operators.merge", "mor_merge_window"),
    ("dml.merge_into", "sql.dml", "merge_into"),
    ("read.snapshot", "sources.read", "snapshot"),
    ("read.incremental", "sources.read", "incremental"),
    ("read.slices_to_df", "sources.read", "slices_to_df"),
    ("pruning.prune_slices_by_stats", "plans.pruning", "prune_slices_by_stats"),
    ("metadata.view", "table", "HudiTable.view"),
    ("metadata.view_build", "metadata", "FileSystemView._build"),
    ("metadata.latest_file_slices", "metadata", "FileSystemView.latest_file_slices"),
    ("timeline.fingerprint", "timeline", "Timeline.fingerprint"),
    ("timeline.transition_to_completed", "timeline", "Timeline.transition_to_completed"),
    ("timeline.archive", "timeline", "Timeline.archive"),
    ("concurrency.guarded_commit", "concurrency", "guarded_commit"),
    ("concurrency.lock", "concurrency", "LockProvider.lock"),
    ("services.clean", "operators.services", "clean"),
    ("services.schedule_compaction", "operators.services", "schedule_compaction"),
    ("services.run_compaction", "operators.services", "run_compaction"),
]
FS_LIST_METHODS = ("list_names", "list_files_recursive", "list_files_mtime")

# every op kind a workload can time; per-op Spark/py4j metrics are
# reported for all of them (0 where a workload never runs the kind)
OP_KINDS = (
    "bulk_insert", "upsert", "delete", "merge_into", "snapshot", "filtered",
    "point_lookup", "incremental", "time_travel", "compaction",
)


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "kids_s")

    def __init__(self, name, start, parent, op):
        self.name, self.start, self.end = name, start, start
        self.parent, self.op, self.kids_s = parent, op, 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.kids_s


class Tracer:
    """Span recorder plus the patches that feed it. Use as a context
    manager: entering installs the wrappers, leaving restores the
    original attributes."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self._local = threading.local()
        self._op_id: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        self.py4j_calls = 0
        self.pruning = [0, 0]  # slices examined, slices kept
        self._cpu0 = self._ticks0 = None

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            span = Span(name, time.perf_counter(), stack[-1] if stack else None, self._op_id)
            self.spans.append(span)
            stack.append(span)
            try:
                out = fn(*args, **kwargs)
                if name == "pruning.prune_slices_by_stats":
                    self.pruning[0] += len(args[1])
                    self.pruning[1] += len(out)
                return out
            finally:
                span.end = time.perf_counter()
                stack.pop()
                if span.parent is not None:
                    span.parent.kids_s += span.dur

        return traced

    # -- patching ------------------------------------------------------
    def _set(self, owner, attr, value):
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def __enter__(self) -> "Tracer":
        mods = {}
        for _, mod, _ in TARGETS:
            mods[mod] = importlib.import_module(f"{PKG}.{mod}")
        fs_mod = importlib.import_module(f"{PKG}.fs")
        loaded = [m for n, m in sys.modules.items() if n == PKG or n.startswith(PKG + ".")]
        for name, mod, path in TARGETS:
            owner = mods[mod]
            *cls_path, attr = path.split(".")
            for c in cls_path:
                owner = getattr(owner, c)
            orig = getattr(owner, attr)
            wrapped = self.wrap(name, orig)
            self._set(owner, attr, wrapped)
            if not cls_path:
                # modules that imported the function by name hold their
                # own binding: rebind those too
                for m in loaded:
                    for k, v in list(vars(m).items()):
                        if v is orig and m is not owner:
                            self._set(m, k, wrapped)
        for attr, fn in list(vars(fs_mod.FS).items()):
            if inspect.isfunction(fn) and not attr.startswith("_"):
                self._set(fs_mod.FS, attr, self.wrap(f"fs.{attr}", fn))
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        self._set(client, "send_command", counted)
        self._cpu0 = _proc_cpu_s(jvm_pid())
        self._ticks0 = cpu_ticks()
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- per-op accounting ---------------------------------------------
    def run_op(self, kind: str, fn):
        """Run one timed op inside its own Spark job group; record wall,
        job count, Spark busy time and py4j round trips."""
        sc = self.spark.sparkContext
        op_id = len(self.ops)
        group = f"perfbench-op-{op_id}"
        sc.setJobGroup(group, kind)
        calls0 = self.py4j_calls
        self._op_id = op_id
        op = self.wrap(f"op.{kind}", fn)
        t0 = time.perf_counter()
        try:
            return op()
        finally:
            wall = time.perf_counter() - t0
            self._op_id = None
            calls = self.py4j_calls - calls0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            jobs, busy = self._jobs_busy(group)
            self.ops.append({"kind": kind, "wall_s": wall, "jobs": jobs,
                             "busy_s": busy, "py4j": calls})

    def _jobs_busy(self, group: str) -> tuple[int, float]:
        sc = self.spark.sparkContext
        ids = list(sc.statusTracker().getJobIdsForGroup(group))
        store = sc._jsc.sc().statusStore()
        spans = []
        for jid in ids:
            jd = store.job(int(jid))
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(spans):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return len(ids), busy

    # -- metrics -------------------------------------------------------
    def layer_metrics(self, table_info: dict) -> dict[str, tuple[float, str]]:
        """Per-layer metric name → (value, unit)."""
        by = defaultdict(lambda: [0, 0.0])  # name → [calls, self_s]
        for s in self.spans:
            b = by[s.name]
            b[0] += 1
            b[1] += s.self_s
        calls = lambda n: by[n][0] if n in by else 0  # noqa: E731
        self_s = lambda n: by[n][1] if n in by else 0.0  # noqa: E731
        m: dict[str, tuple[float, str]] = {}
        for n in ("write.run_batch_write", "write.tag_location", "write.assign_inserts",
                  "write.write_instant_files", "write.collect_write_stats",
                  "merge.precombine_dedup", "dml.merge_into", "read.snapshot",
                  "read.incremental", "pruning.prune_slices_by_stats",
                  "metadata.view_build", "metadata.latest_file_slices",
                  "timeline.transition_to_completed", "timeline.archive",
                  "concurrency.guarded_commit", "services.clean",
                  "services.schedule_compaction", "services.run_compaction"):
            m[f"{n}.self_s"] = (self_s(n), "s")
        for n in ("merge.kernel", "merge.broadcast", "merge.mor_merge_window",
                  "read.slices_to_df", "metadata.view_build", "timeline.fingerprint"):
            m[f"{n}.calls"] = (calls(n), "count")
        m["read.action_s"] = (self_s("bench.read_action"), "s")
        pr = self.pruning
        m["pruning.slices_kept_ratio"] = (pr[1] / pr[0] if pr[0] else 1.0, "ratio")
        views = calls("metadata.view")
        m["metadata.view_cache_hit_ratio"] = (
            1.0 - calls("metadata.view_build") / views if views else 0.0, "ratio")
        m["timeline.active_instants"] = (table_info.get("active_instants", 0), "count")
        n_ops = max(1, len(self.ops))
        in_op = [s for s in self.spans if s.op is not None and s.name.startswith("fs.")]
        m["fs.calls_per_op"] = (len(in_op) / n_ops, "count")
        m["fs.list.calls_per_op"] = (
            sum(1 for s in in_op if s.name[3:] in FS_LIST_METHODS) / n_ops, "count")
        m["fs.self_s_per_op"] = (sum(s.self_s for s in in_op) / n_ops, "s")
        m["concurrency.lock_wait_s"] = (self_s("concurrency.lock"), "s")
        m["services.clean.files_deleted"] = (
            sum(1 for s in self.spans if s.name == "fs.delete" and _under(s, "services.clean")),
            "count")
        m["services.compaction_bytes_rewritten"] = (
            table_info.get("compaction_bytes", 0), "B")
        per_kind = defaultdict(list)
        for o in self.ops:
            per_kind[o["kind"]].append(o)
        for k in OP_KINDS:
            ops = per_kind.get(k, [])
            n = max(1, len(ops))
            m[f"spark.jobs_per_op.{k}"] = (sum(o["jobs"] for o in ops) / n, "count")
            m[f"spark.busy_s_per_op.{k}"] = (sum(o["busy_s"] for o in ops) / n, "s")
            m[f"py4j.calls_per_op.{k}"] = (sum(o["py4j"] for o in ops) / n, "count")
            m[f"driver.self_s_per_op.{k}"] = (
                sum(max(0.0, o["wall_s"] - o["busy_s"]) for o in ops) / n, "s")
        jvm = jvm_pid()
        cpu1 = _proc_cpu_s(jvm)
        ru = resource.getrusage(resource.RUSAGE_SELF)
        m["proc.driver_cpu_s"] = (ru.ru_utime + ru.ru_stime, "s")
        m["proc.jvm_cpu_s"] = (cpu1 - self._cpu0 if cpu1 is not None and self._cpu0 is not None else 0.0, "s")
        m["proc.driver_rss_peak_mb"] = (ru.ru_maxrss / 1024.0, "MB")
        m["proc.jvm_rss_peak_mb"] = (_vm_hwm_mb(jvm), "MB")
        m["host.steal_pct"] = (steal_pct(self._ticks0, cpu_ticks()), "%")
        return m

    def dump(self, path: str, extra: dict) -> None:
        index = {id(s): i for i, s in enumerate(self.spans)}
        rows = [
            [s.name, round(s.start, 6), round(s.dur, 6), round(s.self_s, 6),
             index.get(id(s.parent)), s.op]
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"columns": ["name", "start", "dur_s", "self_s", "parent", "op"],
                       "spans": rows, "ops": self.ops, **extra}, f)


def _under(span: Span, name: str) -> bool:
    p = span.parent
    while p is not None:
        if p.name == name:
            return True
        p = p.parent
    return False


def _procs() -> dict[int, tuple[int, str, float]]:
    """pid → (parent pid, command name, user + system CPU seconds) of
    every process in /proc."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = rest.split()
        out[int(pid)] = (int(fields[1]), head.split("(", 1)[1],
                         (int(fields[11]) + int(fields[12])) / tick)
    return out


def jvm_pid() -> int | None:
    """The Spark JVM that pyspark launched as a child of this process."""
    me = os.getpid()
    return next((pid for pid, (ppid, comm, _) in _procs().items()
                 if ppid == me and comm == "java"), None)


def _proc_cpu_s(pid: int | None) -> float | None:
    procs = _procs()
    return procs[pid][2] if pid in procs else None


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant: the
    Spark JVM and any Python workers it started. Time the host steals
    from the CPUs is not counted."""
    procs = _procs()
    kids = defaultdict(list)
    for pid, (ppid, _, _) in procs.items():
        kids[ppid].append(pid)
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += procs[pid][2] if pid in procs else 0.0
        todo.extend(kids[pid])
    return total


def jit_threads(pid: int | None) -> dict[int, float]:
    """Thread id → CPU seconds used so far, for each JIT compiler thread
    (C1 or C2) of process ``pid``. The JVM starts and stops compiler
    threads as its compile queue grows and drains, so the CPU used over a
    span is ``jit_cpu_between`` of two of these, not a difference of sums."""
    if pid is None:
        return {}
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return {}
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if "CompilerThre" in head:
            fields = rest.split()
            out[int(tid)] = (int(fields[11]) + int(fields[12])) / tick
    return out


def jit_cpu_between(t0: dict[int, float], t1: dict[int, float]) -> float:
    """CPU seconds the compiler threads alive at the end used since ``t0``."""
    return sum(cpu - t0.get(tid, 0.0) for tid, cpu in t1.items())


def _vm_hwm_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_ticks() -> tuple[int, int] | None:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(v), (v[7] if len(v) > 7 else 0)


def steal_pct(t0, t1) -> float:
    if not t0 or not t1 or t1[0] <= t0[0]:
        return 0.0
    return 100.0 * (t1[1] - t0[1]) / (t1[0] - t0[0])


def host_sentinel(t0) -> dict:
    """nproc, CPU steal % since ``t0`` and load averages: lets a reader
    flag a noisy run without treating the host as a metric."""
    try:
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
    except OSError:
        load = []
    return {"nproc": os.cpu_count(), "steal_pct": round(steal_pct(t0, cpu_ticks()), 3),
            "loadavg": load}
