"""Migration spec — the engine's "query" IR.

Mirrors the reference's ``DataMigrationConfig`` (``/root/reference/src/types.ts:68-125``)
and its exported sentinels (``/root/reference/src/index.ts:1-7``,
``src/MongoBulkDataMigration.ts:29-33``): ``DELETE_OPERATION`` (row delete),
``DELETE_COLLECTION`` (atomic table swap), ``FETCH_ALL`` (HWM auto-resume),
``NO_UPDATE`` (per-row skip).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Union

from pyspark.sql import Column, DataFrame


class _Sentinel:
    def __init__(self, name: str):
        self.name = name

    def __repr__(self) -> str:  # pragma: no cover
        return f"<{self.name}>"


DELETE_OPERATION = _Sentinel("DELETE_OPERATION")
DELETE_COLLECTION = _Sentinel("DELETE_COLLECTION")
FETCH_ALL = _Sentinel("FETCH_ALL")
NO_UPDATE = _Sentinel("NO_UPDATE")

# update spec forms (M1-M4 of SURVEY.md §2.6):
#   dict        {col: Column|literal}          -- $set analog, vectorized
#   DELETE_OPERATION                            -- $ delete matching rows
#   ("transform", "<dsl>")                      -- named token transform
#   callable    (DataFrame) -> DataFrame        -- whole-batch vectorized
#                                                  callback; may add __op col
UpdateSpec = Union[dict, _Sentinel, tuple, Callable[[DataFrame], DataFrame]]


@dataclass
class MigrationOptions:
    """Reference options (``/root/reference/src/types.ts:10-34``) re-mapped."""

    max_bulk_size: int = 5000           # rows per micro-batch commit (MBDM.ts:25)
    projection_backup_filter: list[str] | None = None  # P2 (_.pick of keys)
    dont_count: bool = False            # A1 skip pre-count (types.ts:20-21)
    continue_on_bulk_write_error: bool = False  # B5 dead-letter instead of abort
    throttle_ms: int = 0                # B3 sleep between batches
    bypass_validation: bool = False     # validator toggle analog (MBDM.ts:425-449)
    skip_unchanged: bool = False        # P4 NO_UPDATE analog (MBDM.ts:284-286)
    dedup_salt: int | None = None       # extra two-phase salt for hot keys
    # overlap the changelog append with the merge's file writes (manifest
    # commits stay strictly ordered: changelog first — B2 WAL semantics are
    # about commit visibility, not file IO); False restores the fully
    # serial per-batch protocol for A/B measurement
    pipeline_commit: bool = True
    # True materializes the HWM-filtered event stream to parquet scratch
    # before the replay window (pays an expensive upstream lineage — complex
    # joins, decode UDFs — exactly once, at the cost of writing + re-reading
    # the full event payload).  Default False streams the upstream directly:
    # the window's extra passes are column-pruned aggregations Catalyst
    # pushes into the source, the right trade for file-backed or generated
    # event logs (which is also what crash-resume determinism assumes).
    stage_pending: bool = False
    # P1/P2 for the CDC replayer (VERDICT r5 #2): restrict the changelog
    # pre-image to these columns ("what is projected is what is restorable",
    # reference README.md:18).  None (default) backs up the full row; a
    # subset cuts the changelog write — the dominant per-batch phase — at
    # the documented cost that rollback restores only these columns.
    cdc_backup_cols: list[str] | None = None


@dataclass
class DataMigrationConfig:
    warehouse: str                      # the "db"
    collection_name: str
    id: str                             # migration id (rollback table suffix)
    update: UpdateSpec | None = None
    query: Union[str, Column, _Sentinel, None] = None   # predicate or FETCH_ALL
    # S2 aggregation-pipeline source analog: arbitrary DataFrame pipeline
    # applied to the scan before projection (the reference forwards Mongo
    # pipelines verbatim, `MBDM.ts:225-230`); must keep one row per key
    pipeline: Callable[[DataFrame], DataFrame] | None = None
    projection: list[str] | None = None                 # P1: fetched = backed up
    rollback: Callable[[DataFrame], DataFrame] | None = None  # M6 custom inverse
    options: MigrationOptions = field(default_factory=MigrationOptions)

    @property
    def rollback_table_name(self) -> str:
        # reference: `_rollback_<collection>_<id>` (MBDM.ts:117-119)
        return f"_rollback_{self.collection_name}_{self.id}"


@dataclass
class BulkOperationResult:
    """Folded metrics — the reference's ``BulkOperationResult``
    (``/root/reference/src/lib/AbstractBulkOperationResults.ts:13-24,98-118``)."""

    ok: int = 1
    n_matched: int = 0
    n_modified: int = 0
    n_removed: int = 0
    n_inserted: int = 0
    n_upserted: int = 0
    n_backups: int = 0
    write_errors: list[Any] = field(default_factory=list)
    batches: list[dict[str, Any]] = field(default_factory=list)

    def fold(self, m: dict[str, Any]) -> None:
        self.n_matched += int(m.get("n_matched", 0))
        self.n_modified += int(m.get("n_modified", 0))
        self.n_removed += int(m.get("n_removed", 0))
        self.n_inserted += int(m.get("n_inserted", 0))
        self.n_upserted += int(m.get("n_upserted", 0))
        self.n_backups += int(m.get("n_backups", 0))
        self.batches.append(m)

    def as_dict(self) -> dict[str, Any]:
        return {
            "ok": self.ok,
            "nMatched": self.n_matched,
            "nModified": self.n_modified,
            "nRemoved": self.n_removed,
            "nInserted": self.n_inserted,
            "nUpserted": self.n_upserted,
            "nBackups": self.n_backups,
            "writeErrors": self.write_errors,
            "batches": self.batches,
        }
