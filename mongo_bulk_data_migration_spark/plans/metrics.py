"""Per-batch lineage + throughput metrics (A4 metrics fold, B6 warning).

The reference folds ``nInserted/nMatched/nModified/nRemoved/nUpserted`` across
bulk executions (``/root/reference/src/lib/AbstractBulkOperationResults.ts:98-118``)
and warns when backups < updates (non-idempotent migration,
``src/MongoBulkDataMigration.ts:175-184``).  Here every batch emits one JSONL
row — aggregates only, never per-row ids (the reference's ~1 GB/1M-ids memory
note, ``AbstractBulkOperationResults.ts:106-113``).
"""

from __future__ import annotations

import json
import logging
import os
from typing import Any

log = logging.getLogger("mbdm-spark")


def codegen_compiles(spark) -> int:
    """Janino compilations this driver JVM has run so far: Spark's
    ``CodegenMetrics`` compilation-time histogram count, read over py4j (no
    Spark job).  A compile is a generated-class cache miss, so a metrics
    row's delta of it (``codegen_compiles``) is the batch's new generated
    classes.  The count is process-wide: it also holds compiles of other
    threads, e.g. an async MoR compaction overlapping the batch."""
    return int(
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount()
    )


class MetricsSink:
    def __init__(self, warehouse: str, migration_id: str):
        d = os.path.join(os.path.abspath(warehouse), "_state")
        os.makedirs(d, exist_ok=True)
        self.path = os.path.join(d, f"metrics_{migration_id}.jsonl")

    def emit(self, row: dict[str, Any]) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(row, sort_keys=True) + "\n")
        # idempotence warning (B6): backups below modified rows means a key
        # was already backed up => the migration re-touched a document.
        # Rollback rows take no backups and carry no count.
        if "n_backups" in row and row["n_backups"] < row.get("n_modified", 0) + row.get("n_removed", 0):
            log.warning(
                "migration %s batch %s: backups (%s) < writes (%s) — "
                "document(s) updated more than once; rollback restores the "
                "FIRST pre-image (reference warns identically)",
                row.get("migration_id"),
                row.get("batch_id"),
                row.get("n_backups"),
                row.get("n_modified", 0) + row.get("n_removed", 0),
            )

    def read_all(self) -> list[dict[str, Any]]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]
