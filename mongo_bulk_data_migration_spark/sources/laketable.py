"""Snapshot-versioned, bucket-partitioned parquet table (Iceberg-style).

The reference operates on MongoDB collections (its tables), with a shadow
``_rollback_<collection>_<id>`` collection as durable state
(``/root/reference/src/MongoBulkDataMigration.ts:117-123``).  This module is
the lake-side equivalent: a directory of immutable parquet data files plus a
chain of JSON *manifests*, each an atomic, immutable snapshot of the table:

    <root>/
      _meta/CURRENT                # text: latest snapshot version (atomic ptr)
      _meta/snap-<v>.json          # schema + file list + properties + markers
      data/snap-<v>/__b=<k>/*.parquet

Design points (all chosen for the 100 TB / 10^10-event design target):

- **Hash-bucket layout.** Every data file belongs to exactly one bucket
  ``pmod(xxhash64(key), num_buckets)``.  A MERGE that touches only a few
  keys rewrites only the touched buckets (copy-on-write with partition
  pruning); untouched files are carried into the new snapshot by reference.
- **Atomic commits + time travel.** A snapshot is a single JSON create;
  ``CURRENT`` only moves forward.  ``rollback_to_snapshot`` restores an old
  snapshot's files (plus any later pure appends the caller cherry-picks) as
  ONE new forward commit, parented on the head it read — readers and
  streaming consumers see an ordinary commit whose delta record lists the
  rolled-back files as removed, and a commit that lands meanwhile fails the
  restore instead of being dropped.
- **Schema evolution.** The manifest owns the schema; readers pass it to the
  parquet scan explicitly, so columns added later read back as NULL from old
  files (Iceberg-style add-column without rewrite).
- **Exactly-once markers.** Each commit may record an
  ``applied[migration_id] = {batch_id, max_seq}`` marker *atomically with the
  data*, which is what makes replay-after-crash exactly-once (the reference
  gets this from `$setOnInsert` first-write-wins backups,
  ``/root/reference/src/lib/BackupBulk.ts:17-26``).

Single-writer per table is assumed (same as the reference: one migration per
collection at a time, ``/root/reference/README.md:35``).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

META_DIR = "_meta"
DATA_DIR = "data"
BUCKET_COL = "__b"
DELETED_COL = "__deleted"  # tombstone flag inside merge-on-read delta files
DSEQ_COL = "__dseq"        # delta layer sequence (later layers win per key)
# batch-bound layer sequences are the batch id plus a multiple of this, so
# the offset literal stays put while batch ids outrun the layer count
DSEQ_STEP = 1 << 20
# MoR read: when the un-compacted delta layers measure below this, the
# shadowed-base anti join broadcasts the delta key set instead of letting the
# planner shuffle TB-scale base buckets (AQE only sees estimates).
MOR_BROADCAST_BYTES = 64 << 20


def bucket_expr(key_col: str, num_buckets: int):
    """Deterministic bucket id for a key — stable across sessions/executors."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_buckets)).cast("int")


# lossless widenings the Spark 4 parquet reader performs on read when handed
# a wider requested schema than the file footer (probed in this environment:
# int32 file -> long schema, float -> double, and array-element versions).
_WIDEN_ORDER = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """An empty frame planned JVM-side (``LocalTableScan``): no tasks.
    ``spark.createDataFrame([], schema)`` plans ``Scan ExistingRDD`` over
    ``parallelize([])`` instead, which starts one Python worker per core."""
    js = spark._jsparkSession
    return DataFrame(
        js.createDataFrame(spark._jvm.java.util.ArrayList(), js.parseDataType(schema.json())),
        spark,
    )


def is_widening(old: T.DataType, new: T.DataType) -> bool:
    """True iff every value of ``old`` reads back losslessly as ``new``."""
    if isinstance(old, T.ArrayType) and isinstance(new, T.ArrayType):
        return is_widening(old.elementType, new.elementType)
    o, n = old.typeName(), new.typeName()
    if o in _WIDEN_ORDER and n in _WIDEN_ORDER:
        return _WIDEN_ORDER[o] < _WIDEN_ORDER[n]
    return (o, n) == ("float", "double")


@dataclass
class Snapshot:
    version: int
    parent: int | None
    schema: T.StructType
    key_col: str
    num_buckets: int
    files: list[dict[str, Any]]  # {"path": rel, "bucket": int}
    properties: dict[str, Any] = field(default_factory=dict)
    applied: dict[str, Any] = field(default_factory=dict)
    operation: str = "append"

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "parent": self.parent,
                "schema": self.schema.jsonValue(),
                "key_col": self.key_col,
                "num_buckets": self.num_buckets,
                "files": self.files,
                "properties": self.properties,
                "applied": self.applied,
                "operation": self.operation,
            }
        )

    def appended_files(self, parent: "Snapshot") -> list[dict[str, Any]] | None:
        """The files this snapshot appended on ``parent`` when it is a PURE
        append — it removes no file, adds at least one, all base files, and
        keeps the schema, the ``applied`` markers and every property but
        ``writer``; otherwise None.  A pure append commutes with any rewrite
        of other keys, so it can be cherry-picked onto an older snapshot."""
        before = {f["path"] for f in parent.files}
        added = [f for f in self.files if f["path"] not in before]
        if (
            not added
            or len(self.files) - len(added) != len(before)
            or any(f.get("kind", "base") != "base" for f in added)
            or self.schema != parent.schema
            or self.applied != parent.applied
            or _inherited(self.properties) != _inherited(parent.properties)
        ):
            return None
        return added

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        d = json.loads(s)
        return Snapshot(
            version=d["version"],
            parent=d["parent"],
            schema=T.StructType.fromJson(d["schema"]),
            key_col=d["key_col"],
            num_buckets=d["num_buckets"],
            files=d["files"],
            properties=d.get("properties", {}),
            applied=d.get("applied", {}),
            operation=d.get("operation", "append"),
        )


def _inherited(properties: dict[str, Any]) -> dict[str, Any]:
    """The properties a new commit inherits: all but the per-commit
    ``writer`` identity (a foreign commit must not look like it was written
    by the previous committer)."""
    return {k: v for k, v in properties.items() if k != "writer"}


def _atomic_write(path: str, content: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class CommitConflictError(RuntimeError):
    """Another writer committed this snapshot version first.

    The optimistic-concurrency guard every table format needs (Iceberg's
    atomic metadata swap, Delta's mutual-exclusion on the _delta_log entry):
    a zombie driver, a speculative job retry, or a second migration writing
    the same table must FAIL LOUDLY instead of silently clobbering the
    winner's snapshot file — a lost commit is an exactly-once violation the
    replay layer cannot detect afterwards.  Callers may re-read the table
    and re-plan (the engine's contract is single-writer per migration, so
    in-engine this is always a bug or a zombie, never normal contention).
    """


def _atomic_create(path: str, content: str) -> None:
    """Write-then-hardlink: fails with CommitConflictError if ``path``
    already exists (the create-if-absent primitive snapshot commits need;
    ``os.replace`` would silently last-writer-win)."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflictError(
            f"concurrent commit: {os.path.basename(path)} already exists"
        ) from None
    finally:
        os.remove(tmp)


class LakeTable:
    """Handle to one table rooted at ``root``."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)

    # ---------------- lifecycle ----------------

    @staticmethod
    def create(
        root: str,
        schema: T.StructType,
        key_col: str = "doc_id",
        num_buckets: int = 16,
        properties: dict[str, Any] | None = None,
    ) -> "LakeTable":
        root = os.path.abspath(root)
        meta = os.path.join(root, META_DIR)
        if os.path.exists(os.path.join(meta, "CURRENT")):
            raise FileExistsError(f"table already exists at {root}")
        os.makedirs(meta, exist_ok=True)
        os.makedirs(os.path.join(root, DATA_DIR), exist_ok=True)
        snap = Snapshot(
            version=0,
            parent=None,
            schema=schema,
            key_col=key_col,
            num_buckets=num_buckets,
            files=[],
            properties=properties or {},
            operation="create",
        )
        t = LakeTable(root)
        t._write_snapshot(snap)
        return t

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, META_DIR, "CURRENT"))

    # ---------------- snapshot plumbing ----------------

    def _snap_path(self, version: int) -> str:
        return os.path.join(self.root, META_DIR, f"snap-{version:012d}.json")

    def current_version(self) -> int:
        with open(os.path.join(self.root, META_DIR, "CURRENT")) as f:
            return int(f.read().strip())

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.current_version() if version is None else version
        with open(self._snap_path(v)) as f:
            return Snapshot.from_json(f.read())

    def history(self) -> list[int]:
        meta = os.path.join(self.root, META_DIR)
        return sorted(
            int(n[5:-5]) for n in os.listdir(meta) if n.startswith("snap-") and n.endswith(".json")
        )

    def _delta_path(self, version: int) -> str:
        return os.path.join(self.root, META_DIR, f"delta-{version:012d}.json")

    def delta_record(self, version: int) -> dict[str, Any] | None:
        """The commit's manifest delta: {"added": [entries], "removed":
        [entries]} — O(changed files), written alongside the snapshot so a
        streaming consumer's driver never has to load and set-diff two full
        file lists per trigger.  None for pre-delta-record commits (the
        reader falls back to the full diff)."""
        p = self._delta_path(version)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _write_snapshot(self, snap: Snapshot) -> None:
        # create-if-absent: losing a version race raises CommitConflictError
        # BEFORE the CURRENT pointer moves — the loser's data files are
        # unreferenced orphans (GC'd), never a clobbered snapshot
        _atomic_create(self._snap_path(snap.version), snap.to_json())
        # per-commit manifest delta (round 5): O(delta) record of the files
        # this commit added/removed vs its parent, written AFTER the version
        # race is decided (only the winner reaches here) and BEFORE the
        # CURRENT flip.  A crash in between leaves a committed snapshot with
        # no delta record — readers fall back to the full two-snapshot diff.
        # The diff costs O(files) once at WRITE time (the snapshot JSON is
        # already O(files)); the win is every streaming trigger thereafter.
        if snap.parent is not None:
            try:
                parent_files = self.snapshot(snap.parent).files
                parent_paths = {f["path"] for f in parent_files}
                snap_paths = {f["path"] for f in snap.files}
                _atomic_write(self._delta_path(snap.version), json.dumps({
                    "added": [f for f in snap.files if f["path"] not in parent_paths],
                    "removed": [f for f in parent_files
                                if f["path"] not in snap_paths],
                }))
            except OSError:
                pass  # best-effort: readers fall back to the full diff
        cur_path = os.path.join(self.root, META_DIR, "CURRENT")
        # CURRENT is monotonic (rollback rolls FORWARD to a new version):
        # never let a slower committer regress the pointer past a version
        # that won a later race
        try:
            cur = int(open(cur_path).read().strip())
        except (OSError, ValueError):
            cur = -1
        if snap.version > cur:
            _atomic_write(cur_path, str(snap.version))

    def _next_snapshot(self, operation: str) -> Snapshot:
        cur = self.snapshot()
        # new version = max existing + 1: never reuse a version number
        nxt = self.history()[-1] + 1
        return Snapshot(
            version=nxt,
            parent=cur.version,
            schema=cur.schema,
            key_col=cur.key_col,
            num_buckets=cur.num_buckets,
            files=list(cur.files),
            properties=_inherited(cur.properties),
            applied=json.loads(json.dumps(cur.applied)),
            operation=operation,
        )

    # ---------------- reads ----------------

    @property
    def schema(self) -> T.StructType:
        return self.snapshot().schema

    @property
    def key_col(self) -> str:
        return self.snapshot().key_col

    @property
    def num_buckets(self) -> int:
        return self.snapshot().num_buckets

    def read(
        self,
        spark: SparkSession,
        buckets: Iterable[int] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Scan the table (optionally bucket-pruned / time-traveled).

        The manifest schema is passed to the parquet reader explicitly so
        files written before a schema evolution surface added columns as
        NULL — no file rewrite on ALTER TABLE ADD COLUMN.

        Merge-on-read resolution: when delta files exist for the selected
        buckets, the scan resolves them at read time — the latest delta
        layer wins per key (max_by over the layer sequence), tombstoned keys
        drop, and base rows are anti-joined against the delta key set. Base
        rows of buckets WITHOUT deltas stream through untouched.
        """
        snap = self.snapshot(version)
        files = snap.files
        if buckets is not None:
            bset = set(buckets)
            files = [f for f in files if f["bucket"] in bset]
        base = [f for f in files if f.get("kind", "base") == "base"]
        delta = [f for f in files if f.get("kind") == "delta"]
        if not base and not delta:
            return empty_frame(spark, snap.schema)
        cols = [f.name for f in snap.schema.fields]
        if not delta:
            return self.read_files(spark, base, snap.schema)

        key = snap.key_col
        delta_schema = T.StructType(
            list(snap.schema.fields)
            + [T.StructField(DELETED_COL, T.BooleanType(), True),
               T.StructField(DSEQ_COL, T.LongType(), True)]
        )
        d = spark.read.schema(delta_schema).parquet(
            *[os.path.join(self.root, f["path"]) for f in delta]
        )
        # last delta layer wins per key (one hash agg, map-side combine)
        winners = (
            d.groupBy(key)
            .agg(F.max_by(F.struct(*[c for c in cols if c != key], DELETED_COL), DSEQ_COL).alias("__w"))
            .select(key, "__w.*")
        )
        live = winners.where(~F.col(DELETED_COL)).select(*cols)
        delta_buckets = {f["bucket"] for f in delta}
        plain = [f for f in base if f["bucket"] not in delta_buckets]
        shadowed = [f for f in base if f["bucket"] in delta_buckets]
        parts = []
        if shadowed:
            sb = self.read_files(spark, shadowed, snap.schema)
            anti_keys = winners.select(key)
            try:
                delta_bytes = sum(
                    os.path.getsize(os.path.join(self.root, f["path"])) for f in delta
                )
            except OSError:
                delta_bytes = None
            if delta_bytes is not None and delta_bytes <= MOR_BROADCAST_BYTES:
                # winners aggregates the deltas, so its key set is <= delta
                # bytes: a safe broadcast that keeps the (possibly TB-scale)
                # shadowed base scan shuffle-free and partition-local
                anti_keys = F.broadcast(anti_keys)
            parts.append(sb.join(anti_keys, key, "left_anti"))
        parts.append(live)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if plain:
            out = out.unionByName(self.read_files(spark, plain, snap.schema))
        return out

    def read_files(
        self, spark: SparkSession, files: list[dict[str, Any]], schema: T.StructType | None = None
    ) -> DataFrame:
        """Scan exactly the listed base-file manifest entries (no merge-on-
        read resolution) with ``schema`` (default: the current schema)."""
        return spark.read.schema(schema or self.schema).parquet(
            *[os.path.join(self.root, f["path"]) for f in files]
        )

    def file_rows(self, files: list[dict[str, Any]]) -> int | None:
        """Total rows of the listed manifest entries: the counts recorded at
        write time (a dict sum), with a parquet footer read only for an
        entry lacking one (driver-side, no Spark job); ``None`` when a count
        cannot be read."""
        try:
            n = sum(f["rows"] for f in files if "rows" in f)
            need_footer = [f for f in files if "rows" not in f]
            if need_footer:
                import pyarrow.parquet as pq

                for f in need_footer:
                    n += pq.ParquetFile(os.path.join(self.root, f["path"])).metadata.num_rows
            return n
        except Exception:
            return None

    def applied_marker(self, migration_id: str) -> dict[str, Any] | None:
        return self.snapshot().applied.get(migration_id)

    # ---------------- writes ----------------

    def _write_data_files(
        self,
        df: DataFrame,
        version: int,
        schema: T.StructType,
        repartition: bool = True,
        nonce: str | None = None,
    ) -> list[dict[str, Any]]:
        """Write df partitioned by bucket under data/snap-<version>[-nonce]/.

        Returns manifest entries. The bucket id is re-derivable from the key
        (pmod(xxhash64(key), N)) so it is carried in the directory name only.

        ``nonce`` makes the staging directory unique PER ATTEMPT (ADVICE r5:
        two concurrent stagers of the same claimed version must never share
        a mode=overwrite directory — the version race at commit decides the
        winner, but file IO must not clobber).  Manifests reference files by
        path, so a commit rebased to a different version keeps its files in
        the originally-staged directory.

        ``repartition=False`` skips the shuffle for frames that are already
        bucket-aligned (e.g. merge survivors inheriting the scan's
        file-per-bucket partitioning) — each task then writes one file per
        bucket it holds.
        """
        dirname = f"snap-{version:012d}" + (f"-{nonce}" if nonce else "")
        snap_rel = os.path.join(DATA_DIR, dirname)
        out = os.path.join(self.root, snap_rel)
        cols = [f.name for f in schema.fields]
        key = self.key_col
        nb = self.num_buckets
        if BUCKET_COL not in df.columns:
            df = df.withColumn(BUCKET_COL, bucket_expr(key, nb))
        w = df.select(*cols, BUCKET_COL)
        if repartition:
            # one shuffle, co-partitioned by bucket -> few files per bucket
            w = w.repartition(BUCKET_COL)
        # codec: the session's spark.sql.parquet.compression.codec
        # (session.engine_conf)
        w.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(out)
        entries: list[dict[str, Any]] = []
        for bdir in sorted(os.listdir(out)):
            if not bdir.startswith(f"{BUCKET_COL}="):
                continue
            b = int(bdir.split("=", 1)[1])
            for fn in sorted(os.listdir(os.path.join(out, bdir))):
                if fn.endswith(".parquet"):
                    entries.append({"path": os.path.join(snap_rel, bdir, fn), "bucket": b})
        # record per-file row counts in the manifest (Iceberg-style): one
        # footer read per file at write time replaces O(pruned files) footer
        # reads on EVERY later metadata consumer (e.g. the changelog
        # broadcast-bound check each batch). Optional key per entry —
        # readers fall back to a footer read for an entry that lacks it, so
        # one unreadable footer (or a missing pyarrow) costs only that
        # entry's count, never the commit.
        for e in entries:
            try:
                import pyarrow.parquet as pq

                e["rows"] = pq.ParquetFile(
                    os.path.join(self.root, e["path"])
                ).metadata.num_rows
            except Exception:
                continue
        return entries

    def append(
        self,
        df: DataFrame,
        operation: str = "append",
        applied: dict[str, Any] | None = None,
        properties: dict[str, Any] | None = None,
        repartition: bool = True,
    ) -> int:
        """Append rows as new files; existing files untouched (one commit).

        Appends commute with any concurrent commit that does not add delta
        layers to the same buckets, so a lost version race rebases onto the
        winner and retries (bounded) instead of failing.
        """
        snap = self._next_snapshot(operation)
        entries = self._write_data_files(
            df, snap.version, snap.schema, repartition, nonce=uuid.uuid4().hex[:8]
        )
        snap.files.extend(entries)
        return PendingCommit(
            self, snap, added_entries=entries, operation=operation
        ).commit(applied=applied, properties=properties)

    def overwrite_buckets(
        self,
        df: DataFrame,
        buckets: Iterable[int],
        operation: str = "merge",
        applied: dict[str, Any] | None = None,
        properties: dict[str, Any] | None = None,
        repartition: bool = True,
    ) -> int:
        """Replace the listed buckets' files with df's rows (one commit).

        This is the copy-on-write MERGE commit: untouched buckets carry over
        by reference, so write amplification is bounded by the touched-bucket
        fraction — the property that keeps 10^10-event replay tractable.
        """
        return self.stage_overwrite_buckets(df, buckets, operation, repartition).commit(
            applied=applied, properties=properties
        )

    def stage_overwrite_buckets(
        self,
        df: DataFrame,
        buckets: Iterable[int],
        operation: str = "merge",
        repartition: bool = True,
    ) -> "PendingCommit":
        """Write the copy-on-write files for ``overwrite_buckets`` WITHOUT
        committing the manifest.  The staged files are invisible to every
        reader until :meth:`PendingCommit.commit` flips the manifest — so a
        caller can overlap this (the expensive, partition-parallel Spark
        write) with other work whose durability must PRECEDE the commit
        (e.g. the replayer overlaps the changelog append with the merge
        write and orders only the two manifest commits; the WAL discipline
        `reference/src/MongoBulkDataMigration.ts:170-173` constrains commit
        visibility, not file IO).  A crash before commit leaves orphan files
        under ``data/snap-<v>`` that no manifest references — re-staged on
        replay (same version => same directory, mode=overwrite) and swept by
        snapshot GC.  The version is claimed at stage time; the create-if-
        absent race in ``_write_snapshot`` still decides concurrent
        committers, so a lost race fails the commit loudly with orphans,
        never a clobbered snapshot.
        """
        bset = set(buckets)
        snap = self._next_snapshot(operation)
        snap.files = [f for f in snap.files if f["bucket"] not in bset]
        new_entries = self._write_data_files(
            df, snap.version, snap.schema, repartition, nonce=uuid.uuid4().hex[:8]
        )
        stray = [e for e in new_entries if e["bucket"] not in bset]
        if stray:
            raise ValueError(f"write produced rows outside touched buckets: {stray[:3]}")
        snap.files.extend(new_entries)
        return PendingCommit(
            self, snap, added_entries=new_entries, replaced_buckets=bset,
            operation=operation,
        )

    def append_deltas(
        self,
        df: DataFrame,
        buckets: Iterable[int],
        operation: str = "merge-mor",
        applied: dict[str, Any] | None = None,
        properties: dict[str, Any] | None = None,
        repartition: bool = True,
    ) -> int:
        """Merge-on-read commit: append ONE delta layer (changed/inserted
        rows + ``__deleted`` tombstones) for the touched buckets; base files
        are untouched, so write amplification is O(batch), not O(touched
        bucket bytes). Readers resolve layers last-wins; ``compact()`` folds
        them back into base files.
        """
        return self.stage_append_deltas(df, buckets, operation, repartition).commit(
            applied=applied, properties=properties
        )

    def stage_append_deltas(
        self,
        df: DataFrame,
        buckets: Iterable[int],
        operation: str = "merge-mor",
        repartition: bool = True,
        batch: int | None = None,
    ) -> "PendingCommit":
        """MoR counterpart of :meth:`stage_overwrite_buckets`: write the
        delta-layer files now, commit the manifest later (same crash/race
        contract — staged files are unreferenced orphans until commit).

        The layer sequence only has to exceed every existing layer's.  With
        ``batch`` (``df`` then carries it as a ``__batch`` column) it is that
        column plus an offset rounded up to a multiple of ``DSEQ_STEP``, so
        consecutive batches plan the same code; otherwise it is the next
        free number as a literal."""
        bset = set(buckets)
        snap = self._next_snapshot(operation)
        dseq = 1 + max(
            (f.get("dseq", 0) for f in snap.files if f.get("kind") == "delta"), default=0
        )
        if DELETED_COL not in df.columns:
            df = df.withColumn(DELETED_COL, F.lit(False))
        if batch is None:
            df = df.withColumn(DSEQ_COL, F.lit(dseq).cast("long"))
        else:
            off = max(0, -(-(dseq - batch) // DSEQ_STEP) * DSEQ_STEP)
            dseq = batch + off
            df = df.withColumn(DSEQ_COL, F.col("__batch") + F.lit(off).cast("long"))
        delta_schema = T.StructType(
            list(snap.schema.fields)
            + [T.StructField(DELETED_COL, T.BooleanType(), True),
               T.StructField(DSEQ_COL, T.LongType(), True)]
        )
        entries = self._write_data_files(
            df, snap.version, delta_schema, repartition, nonce=uuid.uuid4().hex[:8]
        )
        stray = [e for e in entries if e["bucket"] not in bset]
        if stray:
            raise ValueError(f"delta write produced rows outside touched buckets: {stray[:3]}")
        for e in entries:
            e["kind"] = "delta"
            e["dseq"] = dseq
        snap.files.extend(entries)
        return PendingCommit(
            self, snap, added_entries=entries, operation=operation
        )

    def delta_layers(self, bucket: int | None = None) -> int:
        """Number of distinct delta layers (optionally for one bucket)."""
        snap = self.snapshot()
        return len({
            f["dseq"] for f in snap.files
            if f.get("kind") == "delta" and (bucket is None or f["bucket"] == bucket)
        })

    def commit_marker(
        self, applied: dict[str, Any], operation: str = "marker", properties: dict[str, Any] | None = None
    ) -> int:
        """Metadata-only commit (e.g. record a batch as applied with no data).

        Marker-only commits always commute: a lost version race rebases onto
        the winner's snapshot and retries (bounded)."""
        snap = self._next_snapshot(operation)
        return PendingCommit(
            self, snap, added_entries=[], operation=operation
        ).commit(applied=applied, properties=properties)

    # ---------------- DDL ----------------

    def add_columns(self, new_fields: list[T.StructField]) -> int:
        """Online schema evolution: add nullable columns, no file rewrite."""
        snap = self._next_snapshot("add-columns")
        names = {f.name for f in snap.schema.fields}
        fields = list(snap.schema.fields)
        for nf in new_fields:
            if nf.name in names:
                continue
            if not nf.nullable:
                raise ValueError(f"added column {nf.name} must be nullable")
            fields.append(nf)
        snap.schema = T.StructType(fields)
        self._write_snapshot(snap)
        return snap.version

    def widen_column(self, name: str, new_type: T.DataType) -> int:
        """Online type widening (int->long, float->double, array elements).

        Metadata-only, no file rewrite: the manifest schema is what readers
        pass to the parquet scan, and Spark 4's vectorized reader upcasts
        narrower on-disk values into the wider requested type (probed for
        top-level, array-element, and struct-nested columns).  Narrowing is
        rejected — old files could not be read back losslessly.  ``name``
        may be a dotted path (``backup.tokens``) addressing a struct field.
        """
        head, _, rest = name.partition(".")
        snap = self._next_snapshot("widen-column")
        fields = list(snap.schema.fields)
        for i, f in enumerate(fields):
            if f.name != head:
                continue
            if rest:
                if not isinstance(f.dataType, T.StructType):
                    raise KeyError(f"{head} is not a struct (path {name})")
                inner = list(f.dataType.fields)
                for j, g in enumerate(inner):
                    if g.name != rest:
                        continue
                    if g.dataType == new_type:
                        return snap.version - 1
                    if not is_widening(g.dataType, new_type):
                        raise ValueError(
                            f"widen_column({name}): {g.dataType.simpleString()} -> "
                            f"{new_type.simpleString()} is not a lossless widening"
                        )
                    inner[j] = T.StructField(rest, new_type, True)
                    fields[i] = T.StructField(head, T.StructType(inner), f.nullable)
                    snap.schema = T.StructType(fields)
                    self._write_snapshot(snap)
                    return snap.version
                raise KeyError(f"no such struct field: {name}")
            if f.dataType == new_type:
                return snap.version - 1  # no-op, don't burn a snapshot
            if not is_widening(f.dataType, new_type):
                raise ValueError(
                    f"widen_column({name}): {f.dataType.simpleString()} -> "
                    f"{new_type.simpleString()} is not a lossless widening"
                )
            fields[i] = T.StructField(name, new_type, True)
            snap.schema = T.StructType(fields)
            self._write_snapshot(snap)
            return snap.version
        raise KeyError(f"no such column: {name}")

    def rollback_to_snapshot(
        self,
        version: int,
        cherry_pick: Iterable[dict[str, Any]] = (),
        head: int | None = None,
        operation: str = "rollback",
        properties: dict[str, Any] | None = None,
    ) -> int:
        """Time travel as ONE forward commit: snapshot ``version``'s schema,
        files, markers and properties, plus the ``cherry_pick`` manifest
        entries (files that later pure appends added), committed as a new
        snapshot parented on ``head`` (default: the current version).

        No data is read or written.  The commit's delta record lists every
        file the rolled-back commits wrote as removed.  Raises
        ``FileNotFoundError`` when ``version`` was expired and
        ``CommitConflictError`` when the table moved past ``head`` (or a
        commit to it is in flight): the caller re-decides against the new
        head, so a commit that lands after ``head`` is never dropped.
        Returns the new version.
        """
        start = self.snapshot(version)
        cur = self.current_version()
        head = cur if head is None else head
        if cur != head or self.history()[-1] != head:
            raise CommitConflictError(f"rollback to v{version}: table moved past v{head}")
        snap = Snapshot(
            version=head + 1,
            parent=head,
            schema=start.schema,
            key_col=start.key_col,
            num_buckets=start.num_buckets,
            files=list(start.files) + list(cherry_pick),
            properties={**_inherited(start.properties), **(properties or {})},
            applied=start.applied,
            operation=operation,
        )
        self._write_snapshot(snap)  # create-if-absent: a racing commit wins
        return snap.version

    def compact(self, spark: SparkSession, max_files_per_bucket: int = 4) -> int:
        """Rewrite buckets whose file count exceeds the threshold (one commit).

        The small-file maintenance op every incremental-ingest table needs:
        each merge appends a handful of files to the touched buckets; at
        10^10-event scale periodic compaction bounds read amplification.
        Returns the number of buckets compacted.
        """
        snap = self.snapshot()
        counts: dict[int, int] = {}
        delta_buckets: set[int] = set()
        for f in snap.files:
            counts[f["bucket"]] = counts.get(f["bucket"], 0) + 1
            if f.get("kind") == "delta":
                delta_buckets.add(f["bucket"])
        # buckets with merge-on-read deltas always fold (read amplification
        # is bounded by compaction cadence, not by table age)
        fat = sorted(
            set(b for b, n in counts.items() if n > max_files_per_bucket) | delta_buckets
        )
        if not fat:
            return 0
        rows = self.read(spark, buckets=fat)  # delta-resolved at THIS snapshot
        pending = self.stage_overwrite_buckets(rows, fat, operation="compact")
        # a compaction's replacement content is the fold of exactly the
        # files it read: commits that ADD files (e.g. the next batch's delta
        # layer) on top are kept on rebase — see PendingCommit
        pending.preserve_concurrent_adds = True
        pending.commit()
        return len(fat)

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """GC manifests + unreferenced data files (keep current lineage tail).

        Files under ``data/snap-<v>`` for a version NEWER than the last
        committed snapshot are skipped: they belong to an in-flight staged
        commit (``stage_overwrite_buckets`` claims its version at stage
        time) and deleting them would corrupt the staging writer's commit
        (ADVICE r5 — GC must never race a concurrent stage)."""
        history = self.history()
        max_committed = history[-1]
        keep_versions = set(history[-keep_last:])
        keep_versions.add(self.current_version())
        referenced: set[str] = set()
        for v in keep_versions:
            referenced.update(f["path"] for f in self.snapshot(v).files)
        removed = 0
        data_root = os.path.join(self.root, DATA_DIR)
        for dirpath, _dirnames, filenames in os.walk(data_root):
            snap_dir = os.path.basename(dirpath.split(f"{os.sep}{BUCKET_COL}=")[0])
            if snap_dir.startswith("snap-"):
                try:
                    # dir is snap-<v> or snap-<v>-<nonce>
                    if int(snap_dir[5:].split("-")[0]) > max_committed:
                        continue  # staged-but-uncommitted version: not ours to GC
                except ValueError:
                    pass
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                if fn.endswith(".parquet") and rel not in referenced:
                    os.remove(full)
                    removed += 1
        for v in self.history():
            if v not in keep_versions:
                os.remove(self._snap_path(v))
                try:
                    os.remove(self._delta_path(v))
                except OSError:
                    pass
        return removed


MAX_COMMIT_RETRIES = 5


class PendingCommit:
    """Staged data files awaiting their atomic manifest commit.

    Produced by ``LakeTable.stage_overwrite_buckets`` / ``stage_append_deltas``
    (and used internally by ``append`` / ``commit_marker``).  Holds the
    fully-built next ``Snapshot`` (files already written and listed);
    :meth:`commit` is driver-side metadata only — it stamps ``applied``
    markers and properties, then runs the create-if-absent version race +
    CURRENT flip.  Nothing staged is visible to any reader until then.

    Optimistic retry (VERDICT r5 #4): when the version race is lost to a
    COMMUTING concurrent commit, the loser re-bases its manifest onto the
    winner's snapshot and retries (bounded by ``MAX_COMMIT_RETRIES``) —
    the Iceberg-style answer for an engine whose replayer, IVM follower
    folds and auto-compaction are separate commit streams.  Commuting:

    - marker-only / plain-append commits always rebase (staged files are in
      per-attempt unique directories, so paths never collide);
    - bucket-overwrite commits rebase iff the winner(s) touched NO file in
      the replaced buckets;
    - delta-layer appends rebase iff the winner(s) added NO delta file in
      the same buckets (the staged files embed the layer sequence number).

    A non-commuting race still raises ``CommitConflictError`` loudly.
    """

    def __init__(
        self,
        table: LakeTable,
        snap: Snapshot,
        added_entries: list[dict[str, Any]],
        replaced_buckets: set[int] | None = None,
        operation: str | None = None,
    ):
        self.table = table
        self.snap = snap
        self.parent_version = snap.parent
        self.added_entries = added_entries
        self.replaced_buckets = set(replaced_buckets) if replaced_buckets is not None else None
        self.operation = operation or snap.operation
        # Compaction-style overwrites set this True: the replacement content
        # equals the FOLD of the files read at parent, so files a concurrent
        # winner ADDED to the replaced buckets stay valid on top of the fold
        # (delta layers still win over base rows) — keep them on rebase and
        # conflict only when the winner REMOVED files this commit folded.
        self.preserve_concurrent_adds = False

    @property
    def version(self) -> int:
        return self.snap.version

    def commit(
        self,
        applied: dict[str, Any] | None = None,
        properties: dict[str, Any] | None = None,
    ) -> int:
        if applied:
            self.snap.applied.update(applied)
        if properties:
            self.snap.properties.update(properties)
        try:
            self.table._write_snapshot(self.snap)
            return self.snap.version
        except CommitConflictError:
            pass
        for _ in range(MAX_COMMIT_RETRIES):
            snap = self._rebase(applied, properties)  # raises if non-commuting
            try:
                self.table._write_snapshot(snap)
                self.snap = snap
                return snap.version
            except CommitConflictError:
                continue
        raise CommitConflictError(
            f"commit of {self.operation!r} lost {MAX_COMMIT_RETRIES} version "
            "races in a row; giving up"
        )

    def _rebase(self, applied: dict[str, Any] | None, properties: dict[str, Any] | None) -> Snapshot:
        """Build this commit's snapshot against the CURRENT table state,
        raising ``CommitConflictError`` when the interleaved commits do not
        commute with this one."""
        t = self.table
        parent = t.snapshot(self.parent_version)
        # read cur and build the candidate snapshot ATOMICALLY enough: the
        # commute check below diffs against `cur`, so the snapshot must be
        # parented on exactly that version — a commit landing between the
        # two reads would otherwise slip past the check unexamined
        while True:
            cur = t.snapshot()
            snap = t._next_snapshot(self.operation)
            if snap.parent == cur.version:
                break
        p_paths = {f["path"] for f in parent.files}
        c_paths = {f["path"] for f in cur.files}
        removed_since = [f for f in parent.files if f["path"] not in c_paths]
        added_since = [f for f in cur.files if f["path"] not in p_paths]
        if self.replaced_buckets is not None:
            conflicting = (
                removed_since
                if self.preserve_concurrent_adds
                else removed_since + added_since
            )
            bad = {f["bucket"] for f in conflicting} & self.replaced_buckets
            if bad:
                raise CommitConflictError(
                    f"non-commuting concurrent commits: {self.operation!r} "
                    f"replaces buckets also touched since v{self.parent_version} "
                    f"(buckets {sorted(bad)[:5]})"
                )
        else:
            my_delta_buckets = {
                e["bucket"] for e in self.added_entries if e.get("kind") == "delta"
            }
            bad = {
                f["bucket"] for f in added_since if f.get("kind") == "delta"
            } & my_delta_buckets
            if bad:
                raise CommitConflictError(
                    f"non-commuting concurrent commits: {self.operation!r} "
                    f"appends delta layers to buckets that gained layers since "
                    f"v{self.parent_version} (buckets {sorted(bad)[:5]})"
                )
        if self.replaced_buckets is not None:
            keep_paths = (
                {f["path"] for f in added_since} if self.preserve_concurrent_adds else set()
            )
            snap.files = [
                f for f in snap.files
                if f["bucket"] not in self.replaced_buckets or f["path"] in keep_paths
            ]
        snap.files.extend(self.added_entries)
        # re-apply this commit's own metadata on the new base: anything this
        # commit changed relative to ITS read state (incl. pre-commit stamps
        # merged before the first attempt) wins over inherited values
        for k, v in self.snap.applied.items():
            if parent.applied.get(k) != v:
                snap.applied[k] = v
        for k, v in self.snap.properties.items():
            if parent.properties.get(k) != v:
                snap.properties[k] = v
        if applied:
            snap.applied.update(applied)
        if properties:
            snap.properties.update(properties)
        # NB: parent_version stays the ORIGINAL read state — the commute
        # check must always span every commit interleaved since then
        return snap
