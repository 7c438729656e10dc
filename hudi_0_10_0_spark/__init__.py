"""hudi_0_10_0_spark — a PySpark-native transactional data-lake engine.

A brand-new engine with the query/data-processing capabilities of Apache
Hudi 0.10.0 (reference: punish-yh/hudi-0.10.0), re-expressed Spark-first:

- The *table format* is ours: an ordered commit timeline of JSON instants
  plus per-commit file-group manifests under ``_hoodie_meta/`` (reference:
  ``hudi-common/.../HoodieTableMetaClient.java:73-79`` keeps the same
  information as byte-encoded files under ``.hoodie/``).
- All *compute* is DataFrame ops — key-location joins for indexing,
  a union + one hash exchange on (file_id, partition) + per-key window
  (``stored LEFT JOIN broadcast(incoming)`` for small batches) with
  Column expressions for merge payloads, window functions for
  preCombine — so Catalyst/Tungsten plan the physical
  execution (the reference hand-schedules RDDs of Avro records).
- MOR "log files" are per-commit *delta parquet files* per file group —
  same semantics as Hudi's avro log blocks
  (``common/table/log/HoodieLogFormat.java:39-49``), columnar native.

Public API::

    from hudi_0_10_0_spark import HudiTable, WriteConfig
    tbl = HudiTable.create(spark, path, WriteConfig(record_key_field="id", ...))
    tbl.upsert(df)
    tbl.snapshot().show()
"""

from .config import TableType, WriteConfig, WriteOperation
from .table import HudiTable
from .utilities import import_parquet, run_table_service, snapshot_export
from .catalog_sync import CatalogSyncTool
from . import datasource

__all__ = [
    "HudiTable",
    "WriteConfig",
    "TableType",
    "WriteOperation",
    "datasource",
    "import_parquet",
    "run_table_service",
    "snapshot_export",
    "CatalogSyncTool",
]
__version__ = "0.1.0"
