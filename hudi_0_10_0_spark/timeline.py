"""The commit timeline: an ordered set of instants.

Semantics follow the reference timeline
(``common/table/timeline/HoodieTimeline.java:46-57``,
``HoodieInstant.java:63``): an instant is ``(timestamp, action, state)``
with state REQUESTED → INFLIGHT → COMPLETED, stored one file per state
under ``_hoodie_meta/timeline/``; completion is an atomic rename, which
is the commit point. Instant timestamps are millisecond-resolution
strings (``yyyyMMddHHmmssSSS``) ordered lexicographically, exactly like
the reference's ``HoodieActiveTimeline.COMMIT_FORMATTER``.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass
from datetime import datetime, timedelta

from .fs import FS

# actions — HoodieTimeline.java:46-57
COMMIT = "commit"
DELTA_COMMIT = "deltacommit"
REPLACE_COMMIT = "replacecommit"
CLEAN = "clean"
ROLLBACK = "rollback"
SAVEPOINT = "savepoint"
RESTORE = "restore"
COMPACTION = "compaction"  # requested/inflight marker; completes as `commit`

WRITE_ACTIONS = (COMMIT, DELTA_COMMIT, REPLACE_COMMIT)
ALL_ACTIONS = (
    COMMIT,
    DELTA_COMMIT,
    REPLACE_COMMIT,
    CLEAN,
    ROLLBACK,
    SAVEPOINT,
    RESTORE,
    COMPACTION,
)

REQUESTED = "requested"
INFLIGHT = "inflight"
COMPLETED = "completed"

_lock = threading.Lock()
_last_ts = ""


def format_query_instant(q: str) -> str:
    """Normalize a user-facing time-travel instant to the timeline format
    (``HoodieSqlUtils.formatQueryInstant``): accepts
    'yyyy-MM-dd HH:mm:ss[.SSS]', 'yyyy-MM-dd', or a raw
    'yyyyMMddHHmmss[SSS]' instant."""
    from datetime import datetime

    s = q.strip()
    n = len(s)
    # Second-granularity inputs pad millis with "999"
    # (HoodieInstantTimeGenerator.java:57,82,127 DEFAULT_MILLIS_EXT):
    # "as of 12:30:05" includes every millisecond instant within that
    # second — 17-char instants with an equal 14-char prefix would
    # otherwise sort AFTER the query string and be excluded.
    if n in (19, 23):  # yyyy-MM-dd HH:mm:ss[.SSS]
        d = datetime.strptime(s[:19], "%Y-%m-%d %H:%M:%S")
        ms = s[20:23] if n == 23 else "999"
        return d.strftime("%Y%m%d%H%M%S") + ms
    if n in (14, 17) and s.isdigit():  # yyyyMMddHHmmss[SSS]
        datetime.strptime(s[:14], "%Y%m%d%H%M%S")  # validate
        return s + "999" if n == 14 else s
    if n == 10:  # yyyy-MM-dd -> start of day (midnight exactly)
        return datetime.strptime(s, "%Y-%m-%d").strftime("%Y%m%d") + "000000000"
    raise ValueError(
        f"Unsupported query instant time format: {s}, supported formats "
        "are: 'yyyy-MM-dd HH:mm:ss[.SSS]' or 'yyyy-MM-dd' or "
        "'yyyyMMddHHmmss[SSS]'"
    )


def claim_timestamp(table, instant: str) -> bool:
    """Cross-ACTION create-once claim on a fresh timestamp.

    ``new_instant_time`` is monotonic only WITHIN a process; two OS
    writers can tie on the millisecond. Same-action ties collide on the
    create-once requested file, but DIFFERENT actions have distinct
    filenames while still sharing the per-instant namespaces —
    ``data/<ts>/`` and ``heartbeat/<ts>`` — so a commit X and a
    deltacommit X would write (and on abort, DELETE) each other's data.
    One ``<ts>.claim`` file arbitrates the millisecond across all
    actions; ``Instant.parse`` ignores the name, completion and
    instant-file deletion clean it up.

    False means exactly "a rival owns this millisecond"
    (``create_exclusive`` is a CAS returning False on exists); any
    OTHER storage failure propagates — swallowing it into False would
    burn the caller's five retries and then misreport a permission or
    connectivity error as 'timestamp claimed by a rival'
    (code-review r7)."""
    table.fs.mkdirs(table.timeline.dir)
    return table.fs.create_exclusive(f"{table.timeline.dir}/{instant}.claim", "")


def claim_new_instant(table, action: str, metadata: dict | None = None) -> str:
    """Allocate a FRESH instant and create-once its requested file,
    retrying when a rival process claimed the same millisecond.

    Before r7 a millisecond tie escaped as a write failure AND the
    generic cleanup deleted the instant's files — which belonged to the
    RIVAL (up to and including a completed commit: committed-data loss
    on a timestamp tie, found via the 3-writer soak). The claim loop
    never touches the rival's files: the loser takes the next
    millisecond."""
    last: Exception | None = None
    for _ in range(5):
        instant = table.new_instant()
        if not claim_timestamp(table, instant):
            last = IOError(f"timestamp {instant} claimed by a rival")
            continue
        try:
            table.timeline.create_requested(instant, action, metadata)
            return instant
        except (IOError, OSError) as e:  # legacy layout without claims
            last = e
    raise last  # five straight collisions = a real storage failure


def new_instant_time() -> str:
    """Monotonic millisecond timestamp string (driver-side, like the
    reference's ``HoodieActiveTimeline.createNewInstantTime``)."""
    global _last_ts
    with _lock:
        # one clock read: deriving seconds and millis from two separate
        # reads can straddle a second rollover and yield a timestamp up
        # to ~1s in the past (backdated vs another process's instants)
        now = time.time()
        ts = (
            time.strftime("%Y%m%d%H%M%S", time.localtime(now))
            + f"{int(now * 1000) % 1000:03d}"
        )
        if ts <= _last_ts:  # clock tie/skew → bump
            # bump one millisecond in CALENDAR space — integer
            # arithmetic on the string mints non-calendar instants at
            # second boundaries (…235959999 + 1 = …235960000, second=60)
            # that format_query_instant/strptime later reject, making a
            # committed instant un-time-travelable (code-review r8). The
            # reference bumps epoch millis before formatting for the
            # same reason.
            try:
                prev = datetime.strptime(_last_ts, "%Y%m%d%H%M%S%f")
                bumped = prev + timedelta(milliseconds=1)
                ts = (
                    bumped.strftime("%Y%m%d%H%M%S")
                    + f"{bumped.microsecond // 1000:03d}"
                )
            except (ValueError, OverflowError):
                # unparseable prior tick (or datetime.max): legacy bump
                ts = str(int(_last_ts) + 1).zfill(17)
        _last_ts = ts
        return ts


def _archive_ranges_overlap(a: str, b: str) -> bool:
    """Do two archive batch files overlap by the timestamp range their
    names encode (``{min}_{max}.archive.jsonl``)? Unparseable names are
    treated as overlapping (conservative: forces the dedup read)."""
    try:
        alo, ahi = a.rsplit(".archive.jsonl", 1)[0].split("_")
        blo, bhi = b.rsplit(".archive.jsonl", 1)[0].split("_")
        return alo <= bhi and blo <= ahi
    except ValueError:
        return True


@dataclass(frozen=True, order=True)
class Instant:
    timestamp: str
    action: str
    state: str = COMPLETED

    def filename(self) -> str:
        if self.state == COMPLETED:
            return f"{self.timestamp}.{self.action}"
        return f"{self.timestamp}.{self.action}.{self.state}"

    @staticmethod
    def parse(name: str) -> "Instant | None":
        parts = name.split(".")
        if len(parts) == 2 and parts[1] in ALL_ACTIONS:
            return Instant(parts[0], parts[1], COMPLETED)
        if (
            len(parts) == 3
            and parts[1] in ALL_ACTIONS
            and parts[2] in (REQUESTED, INFLIGHT)
        ):
            return Instant(parts[0], parts[1], parts[2])
        return None  # .tmp files etc.


class Timeline:
    """Active timeline for one table."""

    def __init__(self, fs: FS, meta_path: str):
        self.fs = fs
        self.dir = meta_path.rstrip("/") + "/timeline"
        self.archive_dir = self.dir + "/archived"

    # -- read --------------------------------------------------------------
    def fingerprint(self) -> tuple:
        """Cheap change-detection token: the sorted instant + archive file
        names (one directory listing each). Any commit, clean, rollback,
        or archive run — by this writer or a concurrent one — alters it."""
        return (
            tuple(sorted(self.fs.list_names(self.dir))),
            tuple(sorted(self.fs.list_names(self.archive_dir))),
        )

    def instants(self) -> list[Instant]:
        out = []
        for name in self.fs.list_names(self.dir):
            inst = Instant.parse(name)
            if inst is not None:
                out.append(inst)
        return sorted(out)

    def completed(self, actions: tuple[str, ...] | None = None) -> list[Instant]:
        return [
            i
            for i in self.instants()
            if i.state == COMPLETED and (actions is None or i.action in actions)
        ]

    def completed_write_instants(self) -> list[Instant]:
        return self.completed(WRITE_ACTIONS)

    def pending(self) -> list[Instant]:
        done = {i.timestamp for i in self.instants() if i.state == COMPLETED}
        # one entry per (timestamp, action): the most advanced state wins
        # (both the .requested and .inflight files exist on disk mid-write)
        rank = {REQUESTED: 0, INFLIGHT: 1}
        best: dict[tuple[str, str], Instant] = {}
        for i in self.instants():
            if i.state not in rank or i.timestamp in done:
                continue
            cur = best.get((i.timestamp, i.action))
            if cur is None or rank[i.state] > rank[cur.state]:
                best[(i.timestamp, i.action)] = i
        return sorted(best.values())

    def latest_completed(self, actions=WRITE_ACTIONS) -> Instant | None:
        comp = self.completed(actions)
        return comp[-1] if comp else None

    def is_completed(self, timestamp: str, action: str) -> bool:
        """One ``exists`` on the completed file: the rival check of every
        create-once completion (a rival that finished the same instant)."""
        return self.fs.exists(
            f"{self.dir}/{Instant(timestamp, action, COMPLETED).filename()}"
        )

    def read_metadata(self, instant: Instant) -> dict:
        return json.loads(self.fs.read_text(f"{self.dir}/{instant.filename()}"))

    def read_requested_metadata(self, timestamp: str, action: str) -> dict:
        """Metadata written at schedule time (the ``.requested`` file
        keeps the plan for the instant's whole lifetime — the inflight
        marker is empty, like the reference's plan-carrying requested
        instants for compaction/clustering)."""
        inst = Instant(timestamp, action, REQUESTED)
        path = f"{self.dir}/{inst.filename()}"
        try:
            text = self.fs.read_text(path)
        except Exception:
            if not self.fs.exists(path):
                # instant completed / was rolled back since the caller's
                # listing — an empty plan is the honest answer
                return {}
            # file EXISTS but cannot be read: swallowing would turn a
            # transient IO error into "no plan", silently disabling the
            # pending-plan exclusions and the sweep's plan-kind checks
            # (code-review r8)
            raise
        return json.loads(text)

    # -- state transitions -------------------------------------------------
    def create_requested(self, timestamp: str, action: str, metadata: dict | None = None):
        inst = Instant(timestamp, action, REQUESTED)
        self.fs.mkdirs(self.dir)
        self.fs.write_text_atomic(
            f"{self.dir}/{inst.filename()}", json.dumps(metadata or {})
        )
        return inst

    def transition_to_inflight(self, timestamp: str, action: str):
        inst = Instant(timestamp, action, INFLIGHT)
        self.fs.write_text(f"{self.dir}/{inst.filename()}", "{}")
        return inst

    def transition_to_completed(self, timestamp: str, action: str, metadata: dict):
        """The commit point: atomic rename of a temp file to the completed
        instant file (reference: ``HoodieActiveTimeline.transitionState``).
        The instant's claim file stays: only its owner retires it
        (``release_claim``)."""
        inst = Instant(timestamp, action, COMPLETED)
        self.fs.write_text_atomic(
            f"{self.dir}/{inst.filename()}",
            json.dumps(metadata, sort_keys=True),
        )
        return inst

    def release_claim(self, timestamp: str) -> None:
        """Retire the instant's cross-action claim file (``claim_timestamp``)
        once the instant is completed or dropped. Only the claim's owner
        calls this: a commit on a caller-supplied instant never claimed
        the millisecond, so the claim there is a rival's."""
        self.fs.delete(f"{self.dir}/{timestamp}.claim")

    def delete_instant_files(self, timestamp: str, action: str, claim: bool = True) -> None:
        """Remove every state file of the instant and, unless
        ``claim=False`` (the claim belongs to a rival), its claim."""
        for state in (REQUESTED, INFLIGHT, COMPLETED):
            self.fs.delete(f"{self.dir}/{Instant(timestamp, action, state).filename()}")
        if claim:
            self.release_claim(timestamp)

    def delete_pending_instant_files(self, timestamp: str, action: str) -> None:
        """Remove only the requested/inflight state files — the
        failed-write sweep's variant: even if its staleness judgement is
        wrong, it can never erase a COMPLETED (committed) instant."""
        for state in (REQUESTED, INFLIGHT):
            self.fs.delete(f"{self.dir}/{Instant(timestamp, action, state).filename()}")

    def revert_to_requested(self, timestamp: str, action: str) -> None:
        """Drop only the INFLIGHT marker: a failed execution of a
        scheduled plan (async clustering) returns the instant to
        REQUESTED so the plan stays retryable."""
        self.fs.delete(f"{self.dir}/{Instant(timestamp, action, INFLIGHT).filename()}")

    # -- archive (client/table/HoodieTimelineArchiveLog.java:74-196) -------
    def archive(self, keep_min: int, keep_max: int, protected_ts: set[str] | None = None) -> int:
        """When > keep_max completed write instants, move the oldest down
        to keep_min into ``timeline/archived/`` as one JSON-lines file."""
        protected_ts = protected_ts or set()
        comp = self.completed_write_instants()
        if len(comp) <= keep_max:
            return 0
        # STOP at the earliest savepoint, don't just skip over it
        # (HoodieTimelineArchiveLog.getInstantsToArchive:137-141 limits
        # the commit timeline to instants BEFORE the first savepoint):
        # restore(savepoint) deletes only ACTIVE instants newer than the
        # savepoint, so archiving a post-savepoint commit would let its
        # rows survive the restore via the archived manifests.
        first_protected = min(protected_ts, default=None)
        to_archive = [
            i
            for i in comp[: len(comp) - keep_min]
            if first_protected is None or i.timestamp < first_protected
        ]
        if not to_archive:
            return 0
        # also move SERVICE instants (clean/rollback/restore) older than
        # the archive cutoff — they otherwise accumulate in the active
        # timeline forever and every view rebuild re-parses all of them
        # (the reference's HoodieTimelineArchiveLog archives clean/
        # rollback alongside commits). Savepoints stay active: they are
        # live pins the cleaner and restore still consult.
        cutoff = to_archive[-1].timestamp
        to_archive += [
            i
            for i in self.completed((CLEAN, ROLLBACK, RESTORE))
            if i.timestamp <= cutoff and i.timestamp not in protected_ts
        ]
        to_archive.sort(key=lambda i: i.timestamp)
        self.fs.mkdirs(self.archive_dir)
        # Self-heal after a crash between a previous batch write and its
        # active-file deletes: instants already in the archive are not
        # re-serialized — only their residual active files are removed.
        # (FileSystemView._build also dedupes archived-vs-active, so the
        # crashed window never double-folds; this completes the repair.)
        already = {(a["timestamp"], a["action"]) for a in self.archived_instants()}
        residual = [i for i in to_archive if (i.timestamp, i.action) in already]
        to_archive = [i for i in to_archive if (i.timestamp, i.action) not in already]
        records, kept = [], []
        for inst in to_archive:
            try:
                md = self.read_metadata(inst)
            except Exception:
                continue  # concurrently archived by another writer — skip
            kept.append(inst)
            records.append(
                json.dumps(
                    {
                        "timestamp": inst.timestamp,
                        "action": inst.action,
                        "metadata": md,
                    },
                    sort_keys=True,
                )
            )
        if kept:
            batch_name = f"{kept[0].timestamp}_{kept[-1].timestamp}.archive.jsonl"
            self.fs.write_text_atomic(
                f"{self.archive_dir}/{batch_name}", "\n".join(records)
            )
            for inst in kept:
                self.delete_instant_files(inst.timestamp, inst.action)
        for inst in residual:
            self.delete_instant_files(inst.timestamp, inst.action)
        return len(kept) + len(residual)

    def consolidate_archive(self, max_batches: int = 16) -> bool:
        """Merge the archive's batch files into one once their count
        exceeds ``max_batches``, stripping write_stats whose every path
        the cleaner has recorded deleted.

        Why it scales: the view fold reads EVERY archive batch on a
        fresh build, so an unbounded batch count makes a new reader's
        first view O(all commits ever) in file round-trips, and at
        steady state most archived write_stats describe files the
        cleaner physically deleted long ago — pure dead parse volume
        (``FileSystemView._build`` skips exactly these entries).
        Stripping keeps a SKELETON per dead stat — (partition, file_id,
        log, ``stripped: true``) with paths/col_stats/rows dropped — so
        every manifest consumer behaves exactly as before: the
        incremental touched-set still sees the file group, conflict
        checks still see the overlap, and the fold skips the entry via
        the explicit flag just as it skipped the cleaned paths.

        Crash/rival safety: the consolidated file is written FIRST
        (atomic rename-overwrite; its record set is a superset of every
        batch this merge read), then the merged batches are deleted —
        any crash window leaves overlapping files that
        ``archived_instants`` already dedups by (timestamp, action). A
        rival consolidating concurrently deletes only batches IT
        listed, so a batch that landed after our listing survives both.
        Runs under the table lock in OCC mode (``table.archive``).

        TIERED (code-review r7): a flat merge-everything would re-read
        and rewrite the ENTIRE archived history every 16 batches —
        O(total commits ever) per trigger, quadratic cumulative I/O
        over the table's lifetime. Instead the trailing small batches
        are merged into a second-level file and the big consolidated
        prefix is only rewritten when the trailing tier has grown to
        its size (the LSM/geometric rule), bounding cumulative
        consolidation I/O at O(N log N) while keeping the same
        reader-side batch-count bound."""
        names = [
            n
            for n in sorted(self.fs.list_names(self.archive_dir))
            if n.endswith(".archive.jsonl")
        ]
        if len(names) <= max(1, int(max_batches)):
            return False
        sizes: dict[str, int] = {}
        for n in names:
            try:
                sizes[n] = self.fs.path_size(f"{self.archive_dir}/{n}")
            except Exception:
                sizes[n] = 0  # vanished under a rival — treat as empty
        big = max(names, key=lambda n: sizes[n])
        rest = [n for n in names if n != big]
        # full rewrite only when the tail has grown to the prefix's size
        # (geometric amortization), or when even a tail merge cannot get
        # the count under the cap (max_batches=1 demands ONE file)
        full = (
            sum(sizes[n] for n in rest) >= sizes[big]
            or max(1, int(max_batches)) < 2
        )
        merge_names = names if full else rest
        recs: list[dict] = []
        seen: set[tuple[str, str]] = set()
        if not full and any(
            _archive_ranges_overlap(n, big) for n in rest
        ):
            # records already in the untouched prefix must not be
            # re-serialized into the tail tier (a crash between a
            # previous merge's write and its batch deletes leaves the
            # originals on disk as pure subsets of the consolidated
            # file — the retry must converge by deleting them, not by
            # duplicating their records). The prefix is only READ when
            # a tail batch's filename range actually overlaps it —
            # in steady state archive batches are strictly newer than
            # the prefix, so the routine tiered trigger touches O(tail)
            # bytes total; the prefix read happens only during crash
            # repair, where the overlap is real
            try:
                for line in self.fs.read_text(
                    f"{self.archive_dir}/{big}"
                ).splitlines():
                    if line.strip():
                        rec = json.loads(line)
                        seen.add((rec["timestamp"], rec["action"]))
            except Exception:
                pass  # unreadable prefix → fall back to plain tail merge
        from .fs import is_not_found

        vanished: set[str] = set()
        for n in sorted(merge_names):
            try:
                text = self.fs.read_text(f"{self.archive_dir}/{n}")
            except Exception as e:
                if not is_not_found(e):
                    raise
                # a rival consolidation deleted this batch AFTER writing
                # its own merged superset (write-before-delete ordering),
                # so its records are safe in the rival's file — skip it
                # here and never try to delete it below (code-review r7)
                vanished.add(n)
                continue
            for line in text.splitlines():
                if not line.strip():
                    continue
                rec = json.loads(line)
                key = (rec["timestamp"], rec["action"])
                if key in seen:  # overlapping batches (crash repair)
                    continue
                seen.add(key)
                recs.append(rec)
        merge_names = [n for n in merge_names if n not in vanished]
        if not recs:
            if not full and merge_names:
                # every tail record already lives in the prefix — these
                # are a crashed merge's leftovers; converge by deleting
                # the redundant batches
                for n in merge_names:
                    self.fs.delete(f"{self.archive_dir}/{n}")
                return True
            return False
        recs.sort(key=lambda r: (r["timestamp"], r["action"]))
        # cleaned-path set: cleans inside THIS merge plus the active
        # timeline. A clean recorded only in the untouched prefix can
        # leave some rewritten stats unstripped — that's an optimization
        # miss the next full-tier merge repairs, never a correctness gap
        cleaned: set[str] = set()
        for r in recs:
            if r["action"] == CLEAN:
                cleaned.update(r["metadata"].get("deleted", []))
        for inst in self.completed((CLEAN,)):
            cleaned.update(self.read_metadata(inst).get("deleted", []))
        lines = []
        for r in recs:
            md = r["metadata"]
            stats = md.get("write_stats") if isinstance(md, dict) else None
            if r["action"] in WRITE_ACTIONS and cleaned and stats:
                keep, changed = [], False
                for sd in stats:
                    if sd.get("paths") and all(p in cleaned for p in sd["paths"]):
                        # skeleton: drop paths/col_stats (the bulk) but
                        # KEEP rows/bytes/file count — commits_df and
                        # any ops-facing history still report true
                        # totals for archived commits (code-review r7)
                        keep.append(
                            {
                                "partition": sd.get("partition", ""),
                                "file_id": sd["file_id"],
                                "log": bool(sd.get("log")),
                                "paths": [],
                                "n_files": sd.get(
                                    "n_files", len(sd.get("paths", []))
                                ),
                                "rows": sd.get("rows", 0),
                                "bytes": sd.get("bytes", 0),
                                "stripped": True,
                            }
                        )
                        changed = True
                    else:
                        keep.append(sd)
                if changed:
                    md = dict(md)
                    md["write_stats"] = keep
            lines.append(
                json.dumps(
                    {
                        "timestamp": r["timestamp"],
                        "action": r["action"],
                        "metadata": md,
                    },
                    sort_keys=True,
                )
            )
        name = f"{recs[0]['timestamp']}_{recs[-1]['timestamp']}.archive.jsonl"
        self.fs.write_text_atomic(
            f"{self.archive_dir}/{name}", "\n".join(lines), overwrite=True
        )
        for n in merge_names:
            if n != name:
                self.fs.delete(f"{self.archive_dir}/{n}")
        return True

    def archived_instants(self) -> list[dict]:
        """All archived records, deduped by (timestamp, action).

        Readers take no lock, and a concurrent consolidation DELETES the
        batch files it merged (after writing their superset) — so a
        batch listed here can vanish before its read. Because the
        merged file is always written BEFORE its inputs are deleted,
        any listing taken after the vanish contains a superset of the
        vanished records: on a missing file the whole list+read pass is
        retried from a fresh listing (code-review r7)."""
        from .fs import is_not_found

        last: BaseException | None = None
        for _ in range(5):
            out: list[dict] = []
            seen: set[tuple[str, str]] = set()
            try:
                for name in sorted(self.fs.list_names(self.archive_dir)):
                    if name.endswith(".archive.jsonl"):
                        for line in self.fs.read_text(
                            f"{self.archive_dir}/{name}"
                        ).splitlines():
                            if line.strip():
                                rec = json.loads(line)
                                key = (rec["timestamp"], rec["action"])
                                if key in seen:  # overlapping batches
                                    continue
                                seen.add(key)
                                out.append(rec)
            except Exception as e:
                if not is_not_found(e):
                    raise
                last = e  # a rival's consolidation deleted a listed batch
                continue
            return out
        raise IOError(
            "archive listing kept changing under concurrent consolidation "
            f"after 5 attempts: {self.archive_dir}"
        ) from last
