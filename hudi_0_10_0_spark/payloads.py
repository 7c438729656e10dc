"""Merge payloads as Column-expression strategies.

The reference's ``HoodieRecordPayload`` plugins
(``common/model/HoodieRecordPayload.java:38-106`` and implementations in
``common/model/*.java``) define two hooks:

- ``preCombine(other)``  — pick a survivor among duplicate keys within a
  batch (ordered by the precombine field);
- ``combineAndGetUpdateValue(current, schema)`` — merge an incoming
  record against the stored record; returning EMPTY means delete.

Our engine evaluates both as DataFrame expressions over the merge frame
of (stored, incoming) rows per file group — a per-key window over their
union after one hash exchange on (file_id, partition), or
``stored LEFT JOIN broadcast(incoming)`` for batches within the
broadcast budget — so the merge runs inside whole-stage codegen instead
of per-record Avro calls.

Merge-frame contract used by ``finish_merge_frame``: the frame has every
data column duplicated as ``old__<c>`` / ``new__<c>`` plus boolean markers
``__has_old`` / ``__has_new`` and (incoming only) the delete marker.
A payload returns (``take_new``: Column, per-column value fn) — rows
where ``take_new`` is true use the incoming value expression, others
keep the stored row; ``is_delete`` marks rows to drop entirely.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .config import COMMIT_TIME_COL, DELETE_MARKER_COL

OLD = "old__"
NEW = "new__"
HAS_OLD = "__has_old"
HAS_NEW = "__has_new"


class Payload:
    """Base: OverwriteWithLatestAvroPayload semantics
    (common/model/OverwriteWithLatestAvroPayload.java) — incoming always
    wins; ``_hoodie_is_deleted`` on incoming means delete."""

    name = "overwrite_latest"

    # True → merge semantics depend on the stored row (e.g. MERGE INTO
    # WHEN-clauses), so MOR writes must run the full-merge rewrite path
    # instead of appending standalone delta rows. The reference instead
    # serializes the expressions into log blocks and evaluates them at
    # read/compaction (ExpressionPayload.scala:77-189); a rewrite gives
    # identical results in one pass.
    requires_stored_merge = False

    def __init__(self, precombine_field: str | None = None):
        self.precombine = precombine_field

    # -- batch dedup ordering (preCombine) --------------------------------
    def precombine_order(self) -> list[Column]:
        """ORDER BY for picking the within-batch survivor per key; first
        row wins. Reference reduces pairwise keeping the larger
        orderingVal (SparkWriteHelper.java:68-75)."""
        cols = []
        if self.precombine:
            cols.append(F.col(self.precombine).desc_nulls_last())
        return cols

    # Overwrite semantics make the stored (base) row lose to ANY log
    # record: combineAndGetUpdateValue returns the incoming value
    # unconditionally (OverwriteWithLatestAvroPayload.java:55-62), so
    # only log-vs-log resolution consults the ordering value. The MOR
    # merge window prepends an is-log rank when the caller provides the
    # ``__log`` marker (merge.mor_merge_window).
    mor_log_wins_over_base = True

    # with the ordering below leading on the precombine value among log
    # rows, a key-only NULL-ordering tombstone would rank below older
    # live log rows — the positional delete-BLOCK pass applies here too
    # (HoodieMergedLogRecordScanner: a delete block removes everything
    # logged before it regardless of ordering)
    mor_delete_block_filter = True

    def mor_merge_order(self) -> list[Column]:
        """Version order for MOR read-merge (latest first). Log-vs-log
        follows preCombine — the LARGER ordering value wins even when it
        arrived in an EARLIER deltacommit
        (``HoodieMergedLogRecordScanner.processNextRecord`` calls
        ``payload.preCombine``; commit order only breaks ties). The
        base-beats-nothing rule is the separate ``__log`` rank above."""
        cols = []
        if self.precombine:
            cols.append(F.col(self.precombine).desc_nulls_last())
        cols.append(F.col(COMMIT_TIME_COL).desc())
        return cols

    # -- storage merge ----------------------------------------------------
    def take_new(self) -> Column:
        """True where the merged row should use incoming values."""
        return F.col(HAS_NEW)

    def is_delete(self) -> Column:
        """True where the merged row should be dropped from the file group."""
        new_deleted = F.col(HAS_NEW) & F.coalesce(
            F.col(NEW + DELETE_MARKER_COL), F.lit(False)
        )
        return self.take_new() & new_deleted

    def value(self, col: str) -> Column:
        """Value expression for data column ``col`` when take_new is true."""
        return F.col(NEW + col)

    def pure_insert_gate(self) -> Column | None:
        """Keep-filter for incoming rows written WITHOUT passing through
        the merge kernel (the batch touched no existing file group, so
        there is no stored side to join). Evaluated over the merge-frame
        shape: ``new__<c>`` columns, ``__has_old`` = false, ``__has_new``
        = true. ``None`` (default) keeps every insert. ExpressionPayload
        overrides this — a MERGE INTO with no WHEN NOT MATCHED clause
        must DROP unmatched source rows even when nothing else in the
        batch forces a merge (ExpressionPayload.getInsertValue returns
        EMPTY when no insert condition matches,
        ExpressionPayload.scala:137-166)."""
        return None

    # -- incoming-batch hooks ---------------------------------------------
    def incoming_delete_expr(self, columns: list[str]) -> Column | None:
        """Optional predicate over the *incoming* batch marking rows that
        are deletes (CDC payloads); folded into the delete marker before
        the write so every path (COW merge, MOR delta) honors it."""
        return None


class DefaultPayload(Payload):
    """DefaultHoodieRecordPayload (common/model/DefaultHoodieRecordPayload.java):
    event-time guard — incoming only wins if its ordering value >= stored."""

    name = "default"

    # the event-time guard lets the STORED row beat a lower-ordered log
    # row (needUpdatingPersistedRecord) — no unconditional log-wins rank;
    # the inherited precombine-first order IS the guard, and the
    # positional delete-block filter (inherited) rescues key-only
    # NULL-ordering tombstones
    mor_log_wins_over_base = False

    def take_new(self) -> Column:
        if not self.precombine:
            return F.col(HAS_NEW)
        pc = self.precombine
        # NULL incoming ordering cannot prove the incoming row is newer:
        # it LOSES to a non-null stored value — the same verdict the MOR
        # window's desc_nulls_last reaches, so COW and MOR agree
        # (diff-review r5: coalesce(True) made the same upsert win on COW
        # and lose on MOR). Key-only tombstones (null ordering + delete
        # marker) still delete positionally, mirroring the MOR
        # delete-BLOCK rule.
        newer = F.col(OLD + pc).isNull() | F.coalesce(
            F.col(NEW + pc) >= F.col(OLD + pc), F.lit(False)
        )
        null_tomb = F.coalesce(
            F.col(NEW + DELETE_MARKER_COL), F.lit(False)
        ) & F.col(NEW + pc).isNull()
        return F.col(HAS_NEW) & (~F.col(HAS_OLD) | newer | null_tomb)


class OverwriteNonDefaultsPayload(Payload):
    """OverwriteNonDefaultsWithLatestAvroPayload
    (common/model/OverwriteNonDefaultsWithLatestAvroPayload.java:49-76):
    partial update — null incoming fields keep the stored value."""

    name = "overwrite_non_defaults"

    # partial update needs the STORED row at merge time: a standalone MOR
    # delta row would lose the coalesce-against-old semantics (the read
    # merge picks whole rows) — route MOR upserts through the stored-merge
    # rewrite exactly like ExpressionPayload
    requires_stored_merge = True

    def value(self, col: str) -> Column:
        return F.when(
            F.col(HAS_OLD), F.coalesce(F.col(NEW + col), F.col(OLD + col))
        ).otherwise(F.col(NEW + col))


class EventTimePayload(DefaultPayload):
    """EventTimeAvroPayload — same ordering guard as DefaultPayload in
    0.10.0 semantics (common/model/EventTimeAvroPayload.java)."""

    name = "event_time"


class EmptyPayload(Payload):
    """EmptyHoodieRecordPayload (common/model/EmptyHoodieRecordPayload.java):
    every incoming record is a tombstone → used by the delete operator."""

    name = "empty"

    def is_delete(self) -> Column:
        return F.col(HAS_NEW)


class AWSDmsPayload(Payload):
    """AWSDmsAvroPayload (common/model/AWSDmsAvroPayload.java): rows from
    a DMS change stream carry an ``Op`` column; ``Op = 'D'`` deletes the
    stored record, otherwise latest-wins. The delete signal is folded
    into the standard delete marker on the incoming batch
    (``incoming_delete_expr``) so COW rewrites and MOR delta rows handle
    it identically."""

    name = "aws_dms"
    op_column = "Op"

    def incoming_delete_expr(self, columns: list[str]) -> Column | None:
        if self.op_column not in columns:
            return None
        return F.coalesce(F.col(self.op_column) == "D", F.lit(False))


class DebeziumPayload(DefaultPayload):
    """Postgres/MySQL Debezium payloads
    (common/model/debezium/{Postgres,MySql}DebeziumAvroPayload.java):
    ``_change_operation_type = 'd'`` deletes; ordering guard on the
    precombine field (LSN / file+pos) like DefaultPayload."""

    name = "debezium"
    op_column = "_change_operation_type"

    def incoming_delete_expr(self, columns: list[str]) -> Column | None:
        if self.op_column not in columns:
            return None
        return F.coalesce(F.col(self.op_column) == "d", F.lit(False))


PAYLOADS = {
    p.name: p
    for p in (
        Payload,
        DefaultPayload,
        OverwriteNonDefaultsPayload,
        EventTimePayload,
        EmptyPayload,
        AWSDmsPayload,
        DebeziumPayload,
    )
}


def get_payload(name: str, precombine_field: str | None) -> Payload:
    try:
        return PAYLOADS[name](precombine_field)
    except KeyError:
        raise ValueError(f"unknown payload '{name}', have {sorted(PAYLOADS)}") from None
