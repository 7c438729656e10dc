"""Pre-commit validators: data-quality gates that run between the data
write and the commit, failing the write (files cleaned by the normal
abort path) when a check fails.

Reference: ``spark-client/client/validator/SparkPreCommitValidator.java``
and subclasses (``SqlQueryEqualityPreCommitValidator``,
``SqlQueryInequalityPreCommitValidator``,
``SqlQuerySingleResultPreCommitValidator``), configured by
``HoodiePreCommitValidatorConfig.java:39-75``
(``hoodie.precommit.validators*``). Semantics:

- queries are ``;``-separated; ``<TABLE_NAME>`` substitutes the staged
  temp view (the BEFORE snapshot for equality/inequality's first run,
  the AFTER snapshot — committed state *as if* this write completed —
  for the second);
- **equality**: the query must return the same result on before and
  after (e.g. ``select count(*) from <TABLE_NAME> where col is null``
  guarding against new nulls);
- **inequality**: the results must differ (e.g. asserting the write
  actually changed an aggregate);
- **single_value**: ``query#expected`` — run on after only, the single
  result cell must render equal to ``expected``.

The AFTER snapshot is built from the manifest plus the just-written
(uncommitted) files — pure metadata composition, no second data write
— so validation reads exactly what readers would see post-commit.
"""

from __future__ import annotations

import itertools
import logging

log = logging.getLogger(__name__)

TABLE_VARIABLE = "<TABLE_NAME>"
_VIEW_COUNTER = itertools.count()

VALIDATOR_TYPES = ("equality", "inequality", "single_value")


class PreCommitValidationError(ValueError):
    """HoodieValidationException analogue — aborts the write."""


def _queries(raw: str | None, kind: str) -> list[str]:
    if not raw or not raw.strip():
        raise PreCommitValidationError(
            f"{kind} validator configured with no queries "
            f"(set precommit_{kind}_sql)"
        )
    return [q.strip() for q in raw.split(";") if q.strip()]


def validate_precommit_config(cfg) -> None:
    """Fail fast at write entry: unknown validator names or empty query
    sets must not surface only after the data files are written."""
    for name in _validator_names(cfg):
        if name not in VALIDATOR_TYPES:
            raise PreCommitValidationError(
                f"unknown precommit validator {name!r}; supported: "
                f"{VALIDATOR_TYPES}"
            )
        _queries(getattr(cfg, f"precommit_{name}_sql", None), name)


def _validator_names(cfg) -> list[str]:
    raw = getattr(cfg, "precommit_validators", "") or ""
    return [n.strip() for n in raw.split(",") if n.strip()]


def run_precommit_validators(table, instant: str, action: str, metadata: dict) -> None:
    """Called by the write paths after the data files exist and the
    commit metadata is assembled, BEFORE ``guarded_commit`` — a raise
    here flows into the caller's abort path, which removes the
    uncommitted files (exactly the reference's
    ``runPrecommitValidators`` placement)."""
    names = _validator_names(table.cfg)
    if not names:
        return
    spark = table.spark
    n = next(_VIEW_COUNTER)
    before_view = f"staged_table_{n}_before"
    after_view = f"staged_table_{n}_after"
    after = _after_df(table, instant, action, metadata)
    if table.schema() is None:
        # first commit: the before state is an empty table of the
        # after shape (the reference's first write validates against an
        # empty snapshot the same way)
        from .local_rel import local_df

        before = local_df(spark, [], after.schema)
    else:
        before = _before_df(table)
    before.createOrReplaceTempView(before_view)
    after.createOrReplaceTempView(after_view)
    try:
        for name in names:
            raw = getattr(table.cfg, f"precommit_{name}_sql", None)
            for q in _queries(raw, name):
                _run_one(spark, name, q, before_view, after_view)
    finally:
        spark.catalog.dropTempView(before_view)
        spark.catalog.dropTempView(after_view)


def _run_one(spark, kind: str, query: str, before_view: str, after_view: str):
    if kind == "single_value":
        # SqlQuerySingleResultPreCommitValidator: "query#expected".
        # Split on the LAST '#' so a literal '#' inside the SQL body
        # (e.g. in a string constant) doesn't break parsing; '#' inside
        # the EXPECTED value and ';' inside string literals remain
        # reserved (documented in WriteConfig.precommit_* docstrings).
        if "#" not in query:
            raise PreCommitValidationError(
                f"invalid single_value query format (want 'query#expected'): "
                f"{query!r}"
            )
        q, expected = query.rsplit("#", 1)
        rows = spark.sql(q.replace(TABLE_VARIABLE, after_view)).collect()
        if len(rows) != 1 or len(rows[0]) != 1:
            raise PreCommitValidationError(
                f"single_value validator expects exactly one result cell, "
                f"got {len(rows)} row(s): {query!r}"
            )
        got = rows[0][0]
        if got is None or str(got) != expected:
            raise PreCommitValidationError(
                f"single_value validation failed: expected {expected!r}, "
                f"got {got!r} for query {q!r}"
            )
        return
    before = spark.sql(query.replace(TABLE_VARIABLE, before_view))
    after = spark.sql(query.replace(TABLE_VARIABLE, after_view))
    # set-equality both ways (the reference's intersect-count check
    # misses rows present only in the after set; except() both ways is
    # exact and stays distributed)
    diff = after.exceptAll(before).count() + before.exceptAll(after).count()
    if kind == "equality" and diff != 0:
        raise PreCommitValidationError(
            f"equality validation failed ({diff} differing row(s)) for "
            f"query {query!r}"
        )
    if kind == "inequality" and diff == 0:
        raise PreCommitValidationError(
            f"inequality validation failed (results identical) for "
            f"query {query!r}"
        )


class _PinnedSchemaTable:
    """Delegating proxy that pins ``read_schema()`` to the staged
    commit's schema so the after-state readers see columns this write
    introduces. Everything else (cfg, fs, spark, view, abs_path, …)
    passes through to the real table."""

    def __init__(self, table, schema):
        self._table = table
        self._schema = schema

    def read_schema(self):
        return self._schema

    def __getattr__(self, name):
        return getattr(self._table, name)


def _before_df(table):
    """The committed snapshot at validation time."""
    from .sources.read import snapshot

    return snapshot(table)


def _after_df(table, instant: str, action: str, metadata: dict):
    """Snapshot AS IF this write were committed: the latest file slices
    with the pending write's output composed in — replaced groups
    swapped (COW rewrite / replacecommit), delta files appended (MOR).
    Pure manifest math over files already on disk."""
    from .metadata import BaseFileVersion, FileSlice, LogFileVersion
    from .sources.read import merge_slices

    import json as _json

    from pyspark.sql import types as T

    # Read the composed state with the schema THIS COMMIT is about to
    # record, not the last committed one: a schema-evolving write's new
    # column must be visible to validators (the before view keeps the
    # old schema — correct: the pre-write state has no such column).
    # The pin rides a delegating proxy so every reader below it
    # (slices_to_df, _read_paths, _restore_partition_columns) sees the
    # staged schema (code-review r7).
    commit_schema = T.StructType.fromJson(_json.loads(metadata["schema"]))
    table = _PinnedSchemaTable(table, commit_schema)

    if table.schema() is None:
        # first commit: no committed slices to compose with — read the
        # staged files directly
        from pyspark.sql import functions as F

        from .config import DELETE_MARKER_COL
        from .sources.read import (
            _derive_virtual_meta,
            _restore_partition_columns,
            base_format,
        )

        paths = [
            table.abs_path(p)
            for sd in metadata.get("write_stats", [])
            for p in sd.get("paths", [])
        ]
        df = (
            table.spark.read.schema(commit_schema)
            .format(base_format(table))
            .load(paths)
        )
        if not table.cfg.populate_meta_fields:
            # virtual keys: staged files carry no meta columns — derive
            # them like every committed read does, so a validator query
            # over _hoodie_* behaves identically on commit #1
            # (interaction gap found by test_virtual_keys_services)
            df = _derive_virtual_meta(table, df, paths)
        if table.cfg.drop_partition_columns and table.cfg.partition_fields():
            # staged files omit the partition columns — rebuild them
            # from _hoodie_partition_path exactly like every later read
            # (code-review r7: a first-commit validator on a partition
            # column otherwise sees nulls only on commit #1)
            df = _restore_partition_columns(table, df)
        if DELETE_MARKER_COL in df.columns:
            df = df.filter(
                ~F.coalesce(F.col(DELETE_MARKER_COL), F.lit(False))
            ).drop(DELETE_MARKER_COL)
        return df

    view = table.view()
    slices = {(s.partition, s.file_id): s for s in view.latest_file_slices()}

    replaced = metadata.get("replaced", {})
    for pp, fids in replaced.items():
        for fid in fids:
            slices.pop((pp, fid), None)

    stats = metadata.get("write_stats", [])
    for sd in stats:
        key = (sd.get("partition", ""), sd["file_id"])
        if sd.get("log"):
            s = slices.get(key)
            if s is None:
                continue  # log for a vanished group: nothing to validate
            s = FileSlice(s.partition, s.file_id, s.base, list(s.logs))
            s.logs.append(
                LogFileVersion(
                    instant=instant, paths=list(sd.get("paths", [])),
                    rows=sd.get("rows", 0), bytes=sd.get("bytes", 0),
                )
            )
            slices[key] = s
        else:
            if not sd.get("paths"):
                # zero-row rewrite (all records deleted) supersedes the
                # group with an empty version
                slices.pop(key, None)
                continue
            slices[key] = FileSlice(
                key[0],
                key[1],
                BaseFileVersion(
                    instant=instant, paths=list(sd.get("paths", [])),
                    rows=sd.get("rows", 0), bytes=sd.get("bytes", 0),
                    min_key=sd.get("min_key"), max_key=sd.get("max_key"),
                    col_stats=sd.get("col_stats"),
                    raw=bool(sd.get("raw", False)),
                ),
            )
    from .config import DELETE_MARKER_COL

    # the same merge snapshot() runs, which drops tombstones on every
    # path (log-free and merged alike), so before/after have identical
    # shape and semantics
    return merge_slices(table, list(slices.values())).drop(DELETE_MARKER_COL)