"""Real bloom filters for the BLOOM / GLOBAL_BLOOM index.

The reference's ``HoodieBloomIndex`` is two-stage: key-RANGE pruning of
candidate files (``HoodieBloomIndex.java:143-155``) followed by per-file
bloom-filter MEMBERSHIP checks on exploded (key, file) pairs
(``HoodieKeyLookupHandle.java`` reading the filter the writer serialized
into the parquet footer via ``HoodieBloomFilterWriteSupport``). Range
pruning alone keeps every file whose [min,max] straddles an incoming key
— on tables whose keys interleave across file groups (uuid-keyed, or any
non-sorted ingest order) that is close to ALL of them. The bloom stage
is what makes the index scale there: a file group is scanned only if
some incoming key actually HITS its filter.

Spark-first shape (no writer hook exists for parquet footers, so the
filters live in a per-instant parquet SIDECAR under
``_hoodie_meta/blooms/<instant>.parquet``):

- build: one distributed pass over the instant's new BASE files (key
  hashes grouped per file group, Arrow-batched numpy bitmap). MOR log
  files never need filters: inserts always open base file groups
  (``run_batch_write``), so a slice's log keys are a subset of its base
  keys.
- check: incoming keys pair with range-matching candidate slices
  (broadcast of the driver-side slice metadata), the pairs are
  aggregated to ONE row of key hashes per file group (so a bitmap is
  never replicated per key), LEFT-joined to the sidecar rows, and a
  vectorized pandas batch tests k double-hashed bits per key. Slices
  with no hit are dropped from the index scan. A slice whose base has
  no sidecar row (legacy write, bootstrap raw file, virtual-key table,
  torn sidecar) stays a candidate — false positives cost a scan, false
  negatives are impossible by construction. Join identity is the file
  group id alone (uuid-unique), immune to partition-value type
  inference on the sidecar's informational partition column.

Hashing is engine-portable double hashing: two JVM-side ``xxhash64``
values per key (identical expressions on build and check) combined as
``(h1 + i*h2) mod m`` in uint64 numpy on both sides.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..config import BLOOM_INDEX_TYPES, FILE_ID_COL, PARTITION_PATH_COL, RECORD_KEY_COL

log = logging.getLogger(__name__)

# second-hash salt: any constant distinct from xxhash64's default
# single-column stream; both sides go through _with_hashes, so build and
# check cannot drift
_H2_SALT = "hudi.bloom.h2"

_SIDECAR_SCHEMA = T.StructType(
    [
        T.StructField(PARTITION_PATH_COL, T.StringType()),
        T.StructField(FILE_ID_COL, T.StringType()),
        T.StructField("n_keys", T.LongType()),
        T.StructField("m_bits", T.LongType()),
        T.StructField("k", T.IntegerType()),
        T.StructField("bits", T.BinaryType()),
    ]
)
# on-disk schema: build schema + the instant the filter describes, so
# tag-time reads can match a candidate slice to ITS base's filter (a
# rewritten group's stale row from an older sidecar must not be tested
# — it may contain since-deleted keys and would defeat pruning there)
_READ_SCHEMA = T.StructType(
    list(_SIDECAR_SCHEMA.fields) + [T.StructField("instant", T.StringType())]
)

_MAX_M_BITS = 1 << 28  # 32 MiB per group — sizing safety cap


def blooms_dir(table) -> str:
    return f"{table.meta_path}/blooms"


def sidecar_path(table, instant: str) -> str:
    return f"{blooms_dir(table)}/{instant}.parquet"


def _with_hashes(df: DataFrame, key_col: str = RECORD_KEY_COL) -> DataFrame:
    return df.withColumns(
        {
            "__h1": F.xxhash64(F.col(key_col)),
            "__h2": F.xxhash64(F.lit(_H2_SALT), F.col(key_col)),
        }
    )


def _size_filter(n: int, fpp: float) -> tuple[int, int]:
    """(m_bits, k) for n keys at the target false-positive rate —
    standard optimal sizing, m rounded up to a whole byte."""
    n = max(n, 1)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = min(max((m + 7) // 8 * 8, 64), _MAX_M_BITS)
    k = max(1, round(m / n * math.log(2)))
    return m, k


def enabled(cfg) -> bool:
    return cfg.index_type.upper() in BLOOM_INDEX_TYPES


def build_sidecar(table, instant: str, log_fids: set | None = None) -> None:
    """One distributed pass over the instant's freshly written BASE
    files → one bloom row per (partition, file_id), written as one
    sidecar parquet per instant so tag-time reads load exactly the
    instants referenced by candidate slices. Skips MOR log groups
    (their keys are already in the group's base filter) and virtual-key
    tables (files carry no key column). A skipped or failed build is
    non-fatal by design: missing rows only disable pruning there."""
    cfg = table.cfg
    if not cfg.populate_meta_fields:
        return  # vk files carry no key column; slices stay unprunable
    from ..sources.read import base_format
    from .write import LAYOUT_FILEGROUP_COL, LAYOUT_PARTITION_COL
    from ..config import EMPTY_PARTITION_DIR

    inst_dir = table.instant_data_path(instant)
    try:
        df = table.spark.read.format(base_format(table)).load(inst_dir)
    except Exception:
        return  # file-less instant (e.g. pure replace) — nothing to index
    if RECORD_KEY_COL not in df.columns:
        return
    keys = df.select(
        F.when(
            F.col(LAYOUT_PARTITION_COL).cast("string") == EMPTY_PARTITION_DIR,
            F.lit(""),
        )
        .otherwise(F.col(LAYOUT_PARTITION_COL).cast("string"))
        .alias(PARTITION_PATH_COL),
        F.col(LAYOUT_FILEGROUP_COL).cast("string").alias(FILE_ID_COL),
        F.col(RECORD_KEY_COL),
    )
    if log_fids:
        fids = sorted({fid for _, fid in log_fids})
        keys = keys.filter(~F.col(FILE_ID_COL).isin(fids))
    # hashes only past this point — the key strings never shuffle
    keys = _with_hashes(keys).drop(RECORD_KEY_COL)
    fpp = cfg.bloom_index_fpp

    def make(pdf):
        import numpy as np
        import pandas as pd

        h1 = pdf["__h1"].to_numpy(dtype="int64").astype("uint64")
        h2 = pdf["__h2"].to_numpy(dtype="int64").astype("uint64")
        n = len(pdf)
        m, k = _size_filter(n, fpp)
        arr = np.zeros(m // 8, dtype="uint8")
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
            np.bitwise_or.at(
                arr, (pos // 8).astype("int64"), (1 << (pos % 8)).astype("uint8")
            )
        return pd.DataFrame(
            {
                PARTITION_PATH_COL: [pdf[PARTITION_PATH_COL].iloc[0]],
                FILE_ID_COL: [pdf[FILE_ID_COL].iloc[0]],
                "n_keys": [n],
                "m_bits": [m],
                "k": [k],
                "bits": [arr.tobytes()],
            }
        )

    try:
        rows = keys.groupBy(PARTITION_PATH_COL, FILE_ID_COL).applyInPandas(
            make, schema=_SIDECAR_SCHEMA
        ).withColumn("instant", F.lit(instant))
        # no coalesce(1): a bulk load can build thousands of bitmaps and
        # a single writer task would serialize them all; AQE coalesces
        # the trickle case to one file on its own, and the reader lists
        # the directory either way
        rows.write.mode("overwrite").parquet(sidecar_path(table, instant))
    except Exception as e:
        # the filter is a pure optimization structure: a failed build
        # must never abort the commit whose data files are already
        # correct — the missing sidecar only disables pruning there
        log.warning("bloom sidecar build for %s failed (non-fatal, "
                    "groups stay unprunable): %s", instant, e)


def prune_slices(
    table, incoming: DataFrame, slices: list, global_idx: bool, n_keys: int
) -> list:
    """Drop candidate slices no incoming key can live in, per the bloom
    sidecars. Exact keys are resolved by the tag join afterwards — this
    only bounds WHICH file groups that join has to scan. ``n_keys`` is
    the sum of the batch's per-partition (approximate) distinct key
    counts, from the tag planner's incoming-key summary. For a global
    index a key that arrives in several partitions of the batch counts
    once per partition, so a batch near ``bloom_prune_max_keys`` may
    skip this stage where a batch-wide count would not; results are
    unchanged, only pruning is lost."""
    cfg = table.cfg
    if n_keys > cfg.bloom_prune_max_keys:
        # a batch this large hits nearly every filter, and the
        # one-row-per-group hash aggregation below would materialize
        # O(batch) hashes per row — range pruning already ran; scan
        return slices
    covered, kept = [], []
    # memoized per distinct base instant — candidate slices share a
    # handful of instants, and one exists() per SLICE would be O(groups)
    # driver metadata round trips on every tag (review r8)
    has_sidecar: dict[str, bool] = {}
    for s in slices:
        # raw (bootstrap-source) bases and instants with no sidecar file
        # (pre-feature writes, vk history, torn build) are never pruned
        inst = s.base.instant
        if inst not in has_sidecar:
            has_sidecar[inst] = table.fs.exists(sidecar_path(table, inst))
        if s.base.raw or not s.base.paths or not has_sidecar[inst]:
            kept.append(s)
        else:
            covered.append(s)
    if not covered:
        return slices
    if sum(s.base.bytes for s in covered) < cfg.bloom_prune_min_bytes:
        return slices  # scanning is cheaper than the pair-test jobs
    try:
        return kept + _membership_test(table, incoming, covered, global_idx)
    except Exception as e:
        # degrade, never fail: a corrupt/torn sidecar (crash outside the
        # rename commit, bitrot) surfaces at JOB time, not at the lazy
        # read — the whole pipeline falls back to the unpruned scan
        log.warning("bloom membership test failed (non-fatal, falling "
                    "back to unpruned candidates): %s", e)
        return slices


def _membership_test(table, incoming, covered: list, global_idx: bool) -> list:
    """The pair-test pipeline: returns the subset of ``covered`` whose
    filter some incoming key hits. Raises on any failure — the caller
    degrades to the unpruned candidate list."""
    spark = table.spark
    paths = sorted({sidecar_path(table, s.base.instant) for s in covered})
    blooms = spark.read.schema(_READ_SCHEMA).parquet(*paths).select(
        F.col(FILE_ID_COL),
        F.col("instant").alias("__inst"),
        "m_bits", "k", "bits",
    )
    from ..local_rel import local_df

    cand = local_df(
        spark,
        [
            (s.partition, s.file_id, s.base.instant, s.base.min_key, s.base.max_key)
            for s in covered
        ],
        f"__cpp string, {FILE_ID_COL} string, __inst string, "
        "__mn string, __mx string",
    )
    keys = _with_hashes(
        incoming.select(RECORD_KEY_COL, PARTITION_PATH_COL).distinct()
    )
    in_range = (
        F.col("__mn").isNull()
        | F.col(RECORD_KEY_COL).between(F.col("__mn"), F.col("__mx"))
    )
    if global_idx:
        # a GLOBAL index tags keys across partitions: pair on range only
        # (bounded by the range-pruned candidate list — the reference's
        # global explode over file comparisons has the same shape)
        pairs = keys.join(F.broadcast(cand), in_range)
    else:
        pairs = keys.join(
            F.broadcast(cand), keys[PARTITION_PATH_COL] == cand["__cpp"]
        ).filter(in_range)
    # ONE row of key hashes per file group, so a bitmap is never
    # replicated per key; row size is bounded by the keys whose range
    # matches that group
    grouped = pairs.groupBy(FILE_ID_COL, "__inst").agg(
        F.collect_list("__h1").alias("__h1s"), F.collect_list("__h2").alias("__h2s")
    )
    # LEFT join on (file_id, instant): the filter tested is the one the
    # candidate's OWN base wrote — a stale row for the same group from
    # an older sidecar may contain since-deleted keys and must not
    # resurrect it. No row for the pair → bits null → HIT (unprunable),
    # never a miss
    tested = grouped.join(blooms, [FILE_ID_COL, "__inst"], "left")

    def test(pdf_iter):
        import numpy as np
        import pandas as pd

        for pdf in pdf_iter:
            hits = []
            for _, row in pdf.iterrows():
                if row["bits"] is None:
                    hits.append(row[FILE_ID_COL])
                    continue
                bits = np.frombuffer(row["bits"], dtype="uint8")
                m = np.uint64(row["m_bits"])
                k = int(row["k"])
                h1 = np.asarray(row["__h1s"], dtype="int64").astype("uint64")
                h2 = np.asarray(row["__h2s"], dtype="int64").astype("uint64")
                hit = np.ones(len(h1), dtype=bool)
                for i in range(k):
                    pos = (h1[hit] + np.uint64(i) * h2[hit]) % m
                    ok = (
                        bits[(pos // 8).astype("int64")]
                        & (1 << (pos % 8)).astype("uint8")
                    ) != 0
                    hit[np.flatnonzero(hit)[~ok]] = False
                    if not hit.any():
                        break
                if hit.any():
                    hits.append(row[FILE_ID_COL])
            if hits:
                yield pd.DataFrame({FILE_ID_COL: hits})

    alive = {
        r[FILE_ID_COL]
        for r in tested.mapInPandas(
            test, schema=f"{FILE_ID_COL} string"
        ).collect()  # metadata-sized: bounded by the candidate list
    }
    return [s for s in covered if s.file_id in alive]


def gc_sidecars(table, view) -> int:
    """Delete sidecar files whose instant is referenced by NO retained
    base-file version (the cleaner removed every file that bloom
    described). Called from clean(); returns the number deleted."""
    names = table.fs.list_names(blooms_dir(table)) or []
    if not names:
        return 0
    referenced = {b.instant for g in view.groups.values() for b in g.bases}
    # a rival writer/service mid-commit has already built its sidecar
    # but its bases are not yet in the view — deleting it would leave
    # the rival's groups permanently unprunable (review r8)
    referenced |= {i.timestamp for i in table.timeline.pending()}
    n = 0
    for name in names:
        inst = name.split(".parquet")[0]
        if inst not in referenced:
            table.fs.delete(f"{blooms_dir(table)}/{name}", recursive=True)
            n += 1
    return n
