"""Structured Streaming source over the LakeTable commit log.

Completes the "a CDC sink is the next pipeline's CDC source" story
(SURVEY.md §2.10): the engine's MERGE commits land in the table's snapshot
log, and this source tails that log as a first-class
``spark.readStream.format("mbdm_changefeed")`` stream — offsets are commit
versions, so Spark's own checkpointing gives exactly-once, resume-from-
checkpoint consumption of the feed with NO driver-side poller
(:func:`..sources.changefeed.follow_changes` remains the batch/interactive
tier; this is the deployment tier).

Built on the Spark 4 Python Data Source API (`pyspark.sql.datasource`):

- ``initialOffset``/``latestOffset`` read the manifest's CURRENT pointer —
  metadata-only, O(1) driver work per trigger.
- ``partitions(start, end)`` classifies each commit in the range exactly as
  the batch CDF does (append / merge-on-read / overwrite / metadata-only,
  see changefeed._commit_changes) and emits one input partition per
  (commit, bucket) work unit carrying only FILE LISTS — the driver never
  touches row data.
- ``read(partition)`` runs in the Python data-source worker and yields
  **pyarrow RecordBatches** (SPARK-48493 arrow fast path — no row-by-row
  Python): per-bucket merge-on-read resolution, last-writer selection and
  change classification are the vectorized kernels in :mod:`.arrowfeed`.

Reference parity: the reference's migration WRITES are observable to other
clients as soon as each bulk commits (MongoDB collection == shared state);
this source is the lakehouse analog that makes this engine's commits
observable as a stream, per-commit, with the Delta-CDF change-type
convention {insert, delete, update_pre, update_post}.

Schema rule: the stream's schema is fixed at query start (the table schema
at that moment + the two change-meta columns).  Rows from commits written
under an older schema project onto it (missing columns NULL, narrower
types upcast) — the same alignment the batch CDF applies, and equality
under the wider schema is unchanged (NULL == NULL on both sides), so the
streamed diff matches the batch diff exactly; parity is pinned in
tests/test_stream_source.py.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql import types as T

FORMAT_NAME = "mbdm_changefeed"


@dataclass
class ChangeFeedPartition(InputPartition):
    """One (commit, bucket) unit.  Carries relative file paths only."""

    root: str
    version: int
    kind: str  # append | mor | overwrite
    key: str
    # append: the added base files; mor: this commit's delta files of one
    # bucket; overwrite: the commit's files of one bucket
    files: Sequence[str] = field(default_factory=list)
    # v-1 content of the same bucket (mor/overwrite): base + delta files
    prev_base: Sequence[str] = field(default_factory=list)
    prev_delta: Sequence[str] = field(default_factory=list)
    # overwrite only: the commit's delta files of the bucket (its base files
    # ride in `files`) — the v-side content is resolve(files, cur_delta)
    cur_delta: Sequence[str] = field(default_factory=list)
    schema_json: str = ""
    columns: Sequence[str] | None = None


def _spark_schema_to_arrow(schema: T.StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema)


class ChangeFeedStreamReader(DataSourceStreamReader):
    def __init__(self, table_root: str, schema: T.StructType, from_version: int | None,
                 columns: list[str] | None, max_commits_per_trigger: int | None = None):
        self.table_root = table_root
        self.columns = columns
        self.spark_schema = schema
        self._tbl = self._load_table()
        self.from_version = (
            self._tbl.current_version() if from_version is None else int(from_version)
        )
        self.max_commits = max_commits_per_trigger
        # last offset handed to Spark (rate-limit anchor).  None until the
        # first latestOffset (fresh query -> floor is from_version) or the
        # restart-replay partitions() call (-> floor is the checkpointed
        # position); see latestOffset for the traced call-order contract.
        self._pos: int | None = None
        # incremental manifest state: the table's files as of _state_v,
        # indexed by bucket.  Initialized from ONE full snapshot read, then
        # advanced per commit by its O(delta) manifest delta record — the
        # driver never set-diffs two full file lists per trigger.
        self._state_v: int | None = None
        self._by_bucket: dict[int, dict[str, dict]] = {}
        self._key: str | None = None

    def _load_table(self):
        from .laketable import LakeTable

        return LakeTable(self.table_root)

    # ------------------------------------------------------------ offsets

    def initialOffset(self) -> dict:
        self._pos = self.from_version
        return {"version": self.from_version}

    def latestOffset(self) -> dict:
        cur = self._tbl.current_version()
        if self._pos is None:
            # observed runner call order (traced on Spark 4.1.2): a FRESH
            # query asks for availability before initialOffset, so the
            # pacing floor is from_version; a checkpoint RESTART replays the
            # restored batch through partitions() first, which sets _pos to
            # the checkpointed position before this is ever reached.
            self._pos = self.from_version
        end = cur if self.max_commits is None else min(
            cur, self._pos + self.max_commits)
        self._pos = max(end, self._pos)
        return {"version": self._pos}

    # --------------------------------------------------------- partitions

    def partitions(self, start: dict, end: dict) -> list[ChangeFeedPartition]:
        lo, hi = int(start["version"]), int(end["version"])
        self._pos = max(self._pos or 0, hi)
        self._ensure_state(lo)
        out: list[ChangeFeedPartition] = []
        for v in range(lo + 1, hi + 1):
            out.extend(self._commit_partitions(v))
        return out

    # ------------------------------------------- incremental manifest state

    def _ensure_state(self, v: int) -> None:
        """Position the file-state index at version ``v`` — a no-op on the
        steady path (state advanced commit-by-commit); one full snapshot
        read on first use or after a seek/restart."""
        if self._state_v == v:
            return
        snap = self._tbl.snapshot(v)
        self._by_bucket = {}
        for f in snap.files:
            self._by_bucket.setdefault(f["bucket"], {})[f["path"]] = f
        self._key = snap.key_col
        self._state_v = v

    def _advance_state(self, v: int, added: list[dict], removed: list[dict]) -> None:
        for f in removed:
            b = self._by_bucket.get(f["bucket"])
            if b is not None:
                b.pop(f["path"], None)
        for f in added:
            self._by_bucket.setdefault(f["bucket"], {})[f["path"]] = f
        self._state_v = v

    def _bucket_files(self, b: int) -> tuple[list[str], list[str]]:
        entries = self._by_bucket.get(b, {}).values()
        base = [f["path"] for f in entries if f.get("kind", "base") == "base"]
        delta = [f["path"] for f in entries if f.get("kind") == "delta"]
        return base, delta

    def _commit_delta(self, v: int) -> tuple[list[dict], list[dict]]:
        """(added, removed) file entries of commit ``v`` — from its O(delta)
        manifest delta record when present, else one snapshot read diffed
        against the in-memory state (pre-delta-record tables)."""
        rec = self._tbl.delta_record(v)
        if rec is not None:
            return rec["added"], rec["removed"]
        snap = self._tbl.snapshot(v)
        state_paths = {p for files in self._by_bucket.values() for p in files}
        snap_paths = {f["path"] for f in snap.files}
        added = [f for f in snap.files if f["path"] not in state_paths]
        removed = [
            f for files in self._by_bucket.values() for f in files.values()
            if f["path"] not in snap_paths
        ]
        return added, removed

    def _commit_partitions(self, v: int) -> list[ChangeFeedPartition]:
        tbl = self._tbl
        assert self._state_v == v - 1, "state must track the commit walk"
        added, removed = self._commit_delta(v)
        if not added and not removed:
            self._state_v = v
            return []  # metadata-only commit
        key = self._key
        # the stream's FIXED schema (set at query start) governs projection;
        # per-commit data columns beyond it simply don't exist yet
        data_schema = T.StructType(
            [f for f in self.spark_schema.fields
             if f.name not in ("_change_type", "_commit_version")]
        )
        schema_json = data_schema.json()
        added_delta = [f for f in added if f.get("kind") == "delta"]
        added_base = [f for f in added if f.get("kind", "base") == "base"]

        if not removed and not added_delta:
            # pure append: one partition per added file
            parts = [
                ChangeFeedPartition(
                    root=tbl.root, version=v, kind="append", key=key,
                    files=[f["path"]], schema_json=schema_json,
                    columns=self.columns,
                )
                for f in added_base
            ]
            self._advance_state(v, added, removed)
            return parts
        if added_delta and not removed and not added_base:
            parts = []
            for b in sorted({f["bucket"] for f in added_delta}):
                pb, pd_ = self._bucket_files(b)
                parts.append(ChangeFeedPartition(
                    root=tbl.root, version=v, kind="mor", key=key,
                    files=[f["path"] for f in added_delta if f["bucket"] == b],
                    prev_base=pb, prev_delta=pd_, schema_json=schema_json,
                    columns=self.columns,
                ))
            self._advance_state(v, added, removed)
            return parts
        # overwrite (cow merge / compaction): diff touched buckets
        touched = sorted(
            {f["bucket"] for f in added} | {f["bucket"] for f in removed}
        )
        prev_by_bucket = {b: self._bucket_files(b) for b in touched}
        self._advance_state(v, added, removed)
        parts = []
        for b in touched:
            pb, pd_ = prev_by_bucket[b]
            cur_b, cur_d = self._bucket_files(b)
            parts.append(ChangeFeedPartition(
                root=tbl.root, version=v, kind="overwrite", key=key,
                files=cur_b, prev_base=pb,
                prev_delta=pd_, cur_delta=cur_d, schema_json=schema_json,
                columns=self.columns,
            ))
        return parts

    # --------------------------------------------------------------- read

    def read(self, partition: ChangeFeedPartition) -> Iterator:  # type: ignore[override]
        from . import arrowfeed as af

        schema = T.StructType.fromJson(json.loads(partition.schema_json))
        key = partition.key
        if partition.columns is not None:
            keep = set(partition.columns) | {key}
            schema = T.StructType([f for f in schema.fields if f.name in keep])
        pa_schema = _spark_schema_to_arrow(schema)
        v = partition.version
        if partition.kind == "append":
            t = af.read_aligned(partition.root, partition.files, pa_schema)
            out = af._with_change_meta(t, "insert", v)
            out = af._concat_changes([out], pa_schema, v)
        elif partition.kind == "mor":
            import pyarrow as pa

            dschema = pa.schema(
                list(pa_schema)
                + [pa.field(af.DELETED_COL, pa.bool_()),
                   pa.field(af.DSEQ_COL, pa.int64())]
            )
            deltas = af.read_aligned(partition.root, partition.files, dschema)
            winners = af.last_writer_per_key(deltas, key)
            pre_all = af.resolve_content(
                partition.root, partition.prev_base, partition.prev_delta,
                pa_schema, key,
            )
            mask = af._isin_mask(af._keys_np(pre_all, key), af._keys_np(winners, key))
            import pyarrow as _pa

            pre = pre_all.filter(_pa.array(mask)) if pre_all.num_rows else pre_all
            out = af.classify_mor(winners, pre, key, pa_schema, v)
        else:  # overwrite
            old = af.resolve_content(
                partition.root, partition.prev_base, partition.prev_delta,
                pa_schema, key,
            )
            new = af.resolve_content(
                partition.root, partition.files,
                partition.cur_delta, pa_schema, key,
            )
            out = af.diff_content(old, new, key, pa_schema, v)
        yield from out.to_batches()


class ChangeFeedDataSource(DataSource):
    """``spark.readStream.format("mbdm_changefeed")`` over a LakeTable.

    Options:
      - ``warehouse`` + ``table``  (or ``path`` = the table root directly)
      - ``fromVersion``: first commit EXCLUSIVE (default: current version at
        query start — tail only new commits; ``0`` streams the full history)
      - ``columns``: comma-separated data-column projection (parquet column
        pruning pushed into every worker read; change detection then means
        "changed as observable in these columns", same as the batch CDF)
      - ``maxCommitsPerTrigger``: rate-limit a backlog to at most this many
        commits per micro-batch (default unlimited).  Paces fresh queries
        from ``fromVersion`` and checkpoint restarts from the restored
        position.  ``trigger(availableNow=True)`` drains to the captured
        head in ONE batch (Spark does not consult admission control for
        Python sources); use a processing-time trigger to observe pacing.

    Register once per session::

        spark.dataSource.register(ChangeFeedDataSource)
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _table_root(self) -> str:
        if self.options.get("path"):
            return self.options["path"]
        wh = self.options.get("warehouse")
        tname = self.options.get("table")
        if not wh or not tname:
            raise ValueError(
                "mbdm_changefeed requires options warehouse+table (or path)"
            )
        return os.path.join(wh, tname)

    def schema(self) -> T.StructType:
        from .laketable import LakeTable

        tbl = LakeTable(self._table_root())
        fields = list(tbl.snapshot().schema.fields)
        cols_opt = self.options.get("columns")
        if cols_opt:
            keep = {c.strip() for c in cols_opt.split(",")} | {tbl.snapshot().key_col}
            fields = [f for f in fields if f.name in keep]
        return T.StructType(
            fields
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_commit_version", T.LongType(), False),
            ]
        )

    def streamReader(self, schema: T.StructType) -> ChangeFeedStreamReader:
        fv = self.options.get("fromversion")
        cols_opt = self.options.get("columns")
        columns = [c.strip() for c in cols_opt.split(",")] if cols_opt else None
        mcpt = self.options.get("maxcommitspertrigger")
        return ChangeFeedStreamReader(
            self._table_root(),
            schema,
            int(fv) if fv is not None else None,
            columns,
            max_commits_per_trigger=int(mcpt) if mcpt is not None else None,
        )
