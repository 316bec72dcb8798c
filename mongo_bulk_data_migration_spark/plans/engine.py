"""`MongoBulkDataMigrationSpark` — the reference's public contract, Spark-first.

Mirrors ``MongoBulkDataMigration`` (``/root/reference/src/MongoBulkDataMigration.ts``):

    update()    §3.1  — scan + filter + project, vectorized transform,
                        backup-before-write changelog append, MERGE commit
    rollback()  §3.2  — snapshot time-travel fast path, else changelog replay
                        (single restore MERGE: no-resurrect updates, re-insert
                        deletes, delete inserts); idempotent second call
    clean()     §3.3  — drop changelog + resume state, tolerate absence
    DELETE_COLLECTION — atomic table-rename swap (update/rollback pair,
                        ``MBDM.ts:129-135,351-357``)

Execution model: one logical migration = one or more micro-batch commits; all
row work is DataFrame expressions (Catalyst-planned, codegen'd) or Arrow
pandas UDFs — never per-row Python.
"""

from __future__ import annotations

import json
import logging
import os
import time
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..operators.merge import (
    OP_COL, build_merge_plan, commit_merge, run_merge, stage_merge)
from ..sources.catalog import Catalog
from ..sources.laketable import LakeTable
from .changelog import Changelog
from .hwm import HwmStore
from .metrics import MetricsSink
from .migration import (
    DELETE_COLLECTION,
    DELETE_OPERATION,
    FETCH_ALL,
    BulkOperationResult,
    DataMigrationConfig,
)

log = logging.getLogger("mbdm-spark")


class MongoBulkDataMigrationSpark:
    def __init__(self, spark: SparkSession, config: DataMigrationConfig):
        self.spark = spark
        self.config = config
        self.catalog = Catalog(config.warehouse)

    # ------------------------------------------------------------------
    # helpers

    def get_collection(self) -> LakeTable:
        return self.catalog.load_table(self.config.collection_name)

    def _changelog(self, target: LakeTable) -> Changelog:
        return Changelog(self.catalog, self.config.rollback_table_name, target, self.config.id)

    def _backup_cols(self, target: LakeTable) -> list[str]:
        """P1/P2: fetched-and-projected columns are what gets backed up
        (``/root/reference/README.md:18``; `rollback.test.ts:110-160`)."""
        key = target.key_col
        cols = self.config.projection or [f.name for f in target.schema.fields if f.name != key]
        cols = [c for c in cols if c != key]
        pbf = self.config.options.projection_backup_filter
        if pbf is not None:  # P2: back up a subset of the projection
            cols = [c for c in cols if c in pbf]
        return cols

    def _resolve_query(self, target: LakeTable, df: DataFrame) -> DataFrame:
        """P3 predicates + R1 FETCH_ALL auto-resume."""
        q = self.config.query
        if q is None:
            return df
        if q is FETCH_ALL:
            # reference: {_id: {$gt: last backed-up _id}} (MBDM.ts:326-341);
            # key order is the resume authority. Same documented limitation
            # (R2): keys below the HWM inserted later are skipped.
            #
            # The HWM is the max key of MERGED batches only (changelog rows
            # whose batch_id the target's applied marker covers). After a
            # crash between changelog commit and merge commit, the crashed
            # batch's keys are re-fetched and re-applied (backups are
            # first-write-wins, the merge is idempotent) instead of being
            # skipped with their forward updates dropped.
            cl = self._changelog(target)
            if not cl.exists():
                return df
            key = target.key_col
            marker = target.applied_marker(self.config.id)
            merged_upto = marker.get("batch_id", -1) if marker else -1
            last = (
                cl.table()
                .read(self.spark)
                .where(F.col("batch_id") <= F.lit(merged_upto))
                .agg(F.max(key))
                .collect()[0][0]
            )
            return df if last is None else df.where(F.col(key) > F.lit(last))
        if isinstance(q, str):
            return df.where(F.expr(q))
        if isinstance(q, Column):
            return df.where(q)
        raise TypeError(f"unsupported query: {q!r}")

    # ------------------------------------------------------------------
    # update()  (§3.1)

    def update(self) -> dict[str, Any]:
        cfg = self.config
        if cfg.update is DELETE_COLLECTION:
            ok = self.catalog.rename_table(cfg.collection_name, cfg.rollback_table_name)
            return BulkOperationResult(ok=1 if ok else 0).as_dict()

        t0 = time.monotonic()
        target = self.get_collection()
        key = target.key_col
        df = target.read(self.spark)
        df = self._resolve_query(target, df)
        if cfg.pipeline is not None:  # S2: pipeline source (MBDM.ts:225-230)
            df = cfg.pipeline(df)
        if cfg.projection is None and cfg.pipeline is not None:
            # pipeline outputs ARE the fetched doc (virtual fields included)
            proj_cols = [key] + [c for c in df.columns if c != key]
        else:
            proj_cols = [key] + [c for c in self._projected(target) if c in df.columns]
        df = df.select(*proj_cols)

        total = -1  # NO_COUNT_AVAILABLE sentinel (AbstractBulkOperationResults.ts:39)
        if not cfg.options.dont_count:
            total = df.count()  # A1 pre-count

        src, update_cols, update_query = self._build_update_source(target, df)

        # B1: maxBulkSize micro-batching (MBDM.ts:25,160-201): the update set
        # commits in <= max_bulk_size-row batches in key order — the
        # deterministic analog of the reference's cursor-order [30,30,30,10]
        # split (update.test.ts:228-277). Each batch is its own
        # changelog-append + MERGE commit, so a 10^9-row migration gets
        # incremental checkpoints instead of one giant commit.
        batches = self._split_batches(src, target.key_col, cfg.options.max_bulk_size, total)

        cl = self._changelog(target)
        base_batch = self._next_batch_id(target)
        res = BulkOperationResult()
        sink = MetricsSink(cfg.warehouse, cfg.id)
        for i, bsrc in enumerate(batches):
            batch_id = base_batch + i
            tb = time.monotonic()
            plan = build_merge_plan(
                target,
                self.spark,
                bsrc,
                update_cols=update_cols,
                bypass_validation=cfg.options.bypass_validation,
            )
            try:
                start_ver = target.current_version()
                # recorded BEFORE the staged merge claims its version: no
                # other target commit may land between stage and commit
                self._record_migration_start(target, start_ver)
                # pipelined commit (same as the CDC replayer): the backup
                # append overlaps the merge's file writes; only the two
                # manifest COMMITS are ordered (changelog first — B2 WAL)
                op_name = f"migration-{cfg.id}-batch-{batch_id}"
                pend_box: dict[str, Any] = {}

                def _stage(plan=plan, op_name=op_name):
                    try:
                        pend_box["pending"] = stage_merge(target, plan, operation=op_name)
                    except BaseException as e:
                        pend_box["error"] = e

                th = None
                if cfg.options.pipeline_commit:
                    from pyspark import InheritableThread

                    th = InheritableThread(target=_stage, daemon=True)
                    th.start()
                try:
                    n_backups = cl.append_batch(
                        self.spark,
                        plan.preimage,
                        batch_id,
                        update_query,
                        self._backup_cols(target),
                        bucket_hint=plan.touched,
                    )
                finally:
                    if th is not None:
                        th.join()
                if "error" in pend_box:
                    raise pend_box["error"]
                if th is None:
                    pend_box["pending"] = stage_merge(target, plan, operation=op_name)
                commit_merge(
                    target,
                    plan,
                    pend_box["pending"],
                    applied={cfg.id: {"batch_id": batch_id}},
                    properties={"writer": cfg.id},
                    operation=op_name,
                )
                m = plan.metrics()
            finally:
                plan.release()
            m["n_backups"] = max(n_backups, 0)
            m["migration_id"] = cfg.id
            m["batch_id"] = batch_id
            m["total_entries"] = total
            m["wall_s"] = round(time.monotonic() - tb, 3)
            res.fold(m)
            sink.emit(m)
            if cfg.options.throttle_ms:
                time.sleep(cfg.options.throttle_ms / 1000.0)  # B3
        out = res.as_dict()
        out["wall_s"] = round(time.monotonic() - t0, 3)
        return out

    def _split_batches(self, src: DataFrame, key: str, max_bulk_size: int,
                       total: int) -> list[DataFrame]:
        """Split the update set into key-ordered <= max_bulk_size chunks.

        Boundary keys are found by DISTRIBUTED exact ranking over the KEY
        COLUMN only (VERDICT r2 #6 — no `row_number().over(orderBy(key))`
        global window, which funnels every key through ONE task):

        1. range-repartition + sort the keys and stage them ONCE to parquet
           scratch (pids are then stable data, immune to RangePartitioner
           re-sampling across jobs);
        2. per-partition counts (tiny collect) -> global offsets per pid;
        3. rows at global ranks 0, B, 2B, ... are located with a window
           PARTITIONED by pid — every stage runs parallel; the single-task
           work is only the O(n_batches) boundary collect.

        Each batch is then a pure key-range predicate over the source —
        deterministic, pushdown-friendly, independent of physical
        partitioning, and identical to the old global-window split.
        """
        if not max_bulk_size or (0 <= total <= max_bulk_size):
            return [src]
        import shutil
        import uuid

        from pyspark.sql import Window

        n_part = max(int(self.spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
        scratch = os.path.join(self.config.warehouse, "_tmp", f"split-{uuid.uuid4().hex}")
        (
            src.select(key)
            .repartitionByRange(n_part, F.col(key))
            .sortWithinPartitions(key)
            .withColumn("__pid", F.spark_partition_id())
            .write.mode("overwrite")
            .option("compression", "uncompressed")
            .parquet(scratch)
        )
        try:
            staged = self.spark.read.parquet(scratch)
            cnts = {
                r["__pid"]: r["n"]
                for r in staged.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
            }
            offsets, acc = {}, 0
            for pid in sorted(cnts):  # ascending pid == ascending key range
                offsets[pid] = acc
                acc += cnts[pid]
            targets = range(0, acc, max_bulk_size)
            local = {
                pid: [t - offsets[pid] + 1 for t in targets
                      if offsets[pid] <= t < offsets[pid] + cnts[pid]]
                for pid in cnts
            }
            cond = F.lit(False)
            for pid, ts in local.items():
                if ts:
                    cond = cond | ((F.col("__pid") == pid) & F.col("__rn").isin(ts))
            rn = F.row_number().over(Window.partitionBy("__pid").orderBy(key))
            marks = [
                r[0]
                for r in staged.withColumn("__rn", rn)
                .where(cond)
                .select(key)
                .orderBy(key)
                .collect()
            ]
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        if len(marks) <= 1:
            return [src]
        out = []
        for i, lo in enumerate(marks):
            cond = F.col(key) >= F.lit(lo)
            if i + 1 < len(marks):
                cond = cond & (F.col(key) < F.lit(marks[i + 1]))
            out.append(src.where(cond))
        return out

    def _projected(self, target: LakeTable) -> list[str]:
        key = target.key_col
        return [
            c
            for c in (self.config.projection or [f.name for f in target.schema.fields])
            if c != key
        ]

    def _next_batch_id(self, target: LakeTable) -> int:
        marker = target.applied_marker(self.config.id)
        return (marker.get("batch_id", -1) + 1) if marker else 0

    def _record_migration_start(self, target: LakeTable, start_version: int) -> None:
        prop = f"migration_start_{self.config.id}"
        if prop not in target.snapshot().properties:
            # carried forward by every later commit; used by the snapshot
            # time-travel rollback fast path
            target.commit_marker({}, operation="migration-start", properties={prop: start_version})

    def _build_update_source(
        self, target: LakeTable, df: DataFrame
    ) -> tuple[DataFrame, list[str] | None, str]:
        """Compile the update spec (M1-M4) into a merge source frame."""
        cfg = self.config
        key = target.key_col
        u = cfg.update
        if u is DELETE_OPERATION:  # M3
            return (
                df.select(key).withColumn(OP_COL, F.lit("delete")),
                None,
                json.dumps("DELETE_OPERATION"),
            )
        if isinstance(u, dict):  # M1 $set / M2 $unset analog
            from .migration import NO_UPDATE

            u = dict(u)
            # M2: {"$unset": [cols]} -> typed NULL writes; the inverse comes
            # from the pre-image automatically (rollback.test.ts:378-475)
            unset_cols = u.pop("$unset", [])
            # NO_UPDATE as a dict value drops the column from the update set
            # (conditional spec building); P4's per-row analog is
            # skip_unchanged below
            exprs = {
                c: (v if isinstance(v, Column) else F.lit(v))
                for c, v in u.items()
                if v is not NO_UPDATE
            }
            for c in unset_cols:
                exprs[c] = F.lit(None).cast(target.schema[c].dataType)
            out = df
            if cfg.options.skip_unchanged:  # P4 NO_UPDATE analog — filter
                # against the ORIGINAL column values, before any rewrite
                changed = F.lit(False)
                for c, e in exprs.items():
                    old = F.col(c) if c in df.columns else F.lit(None)
                    changed = changed | ~(old.eqNullSafe(e))
                out = out.where(changed)
            for c, e in exprs.items():
                out = out.withColumn(c, e)
            out = out.withColumn(OP_COL, F.lit("update"))
            uq = {"$set": sorted(set(exprs) - set(unset_cols))}
            if unset_cols:
                uq["$unset"] = sorted(unset_cols)
            return out, list(exprs.keys()), json.dumps(uq)
        if isinstance(u, tuple) and len(u) == 2 and u[0] == "transform":  # M4 named DSL
            from ..functions.tokens import parse_transform, transform_expr

            name, arg = parse_transform(F.lit(u[1]))
            new_tokens = transform_expr(F.col("tokens"), name, arg, F.lit(None))
            out = (
                df.withColumn("tokens", new_tokens.cast(target.schema["tokens"].dataType))
                .withColumn("n_tok", F.size("tokens").cast("int"))
                .withColumn(OP_COL, F.lit("update"))
            )
            return out, ["tokens", "n_tok"], json.dumps({"transform": u[1]})
        if callable(u):  # M4 whole-batch vectorized callback
            out = u(df)
            if "__no_update" in out.columns:
                # P4 NO_UPDATE per-row skip: flagged rows are neither backed
                # up nor written (MBDM.ts:284-286) — the vectorized analog of
                # the callback returning the NO_UPDATE sentinel
                out = out.where(
                    ~F.coalesce(F.col("__no_update"), F.lit(False))
                ).drop("__no_update")
            if OP_COL not in out.columns:
                out = out.withColumn(OP_COL, F.lit("update"))
            cols = [c for c in out.columns if c not in (key, OP_COL)]
            return out, cols, json.dumps({"callback": getattr(u, "__name__", "fn")})
        raise TypeError(f"unsupported update spec: {u!r}")

    # ------------------------------------------------------------------
    # rollback()  (§3.2)

    def rollback(self) -> dict[str, Any]:
        cfg = self.config
        if cfg.update is DELETE_COLLECTION:
            ok = self.catalog.rename_table(cfg.rollback_table_name, cfg.collection_name)
            return BulkOperationResult(ok=1 if ok else 0).as_dict()

        if not self.catalog.exists(cfg.rollback_table_name):
            # non-rollbackable / second rollback: warn + no-op (MBDM.ts:344-347;
            # idempotence pinned by doRollbackAndAssertForInitialState.ts:46-54)
            log.warning("rollback: no changelog for %s — no-op", cfg.id)
            return BulkOperationResult(ok=1).as_dict()

        target = self.get_collection()
        res = BulkOperationResult()

        # M6: a custom rollback callback rewrites the restore set per key —
        # whole-table time travel would silently ignore it, so the fast path
        # is only legal for the default inverse
        if cfg.rollback is None and self._try_snapshot_rollback(target):
            self.clean()
            res.batches.append({"mode": "snapshot-time-travel"})
            return res.as_dict()

        cl = self._changelog(target)
        src = cl.rollback_source(self.spark)
        if cfg.rollback is not None:  # M6 custom rollback callback
            src = cfg.rollback(src)
        known: dict[str, Any] = {}
        if cl.table().num_buckets == target.num_buckets:
            # a changelog with the target's key and bucket count names every
            # bucket the source can touch in its manifest, and its row count
            # bounds the key set — no staging job; a callback that moves
            # keys elsewhere fails the write loudly.  Otherwise (a changelog
            # kept across a target recreated with other buckets) staging
            # discovers the buckets.
            known = {"touched": cl.touched_buckets(), "n_keys": cl.row_count()}
        plan = build_merge_plan(
            target,
            self.spark,
            src,
            update_cols=self._backup_cols(target),
            bypass_validation=True,  # rollback source comes from our own changelog
            **known,
        )
        try:
            run_merge(
                target,
                plan,
                operation=f"rollback-{cfg.id}",
                properties={"writer": cfg.id},
            )
            m = plan.metrics()
        finally:
            plan.release()
        res.fold(m)
        self.clean()  # reference drops the backup collection at rollback end (:405)
        return res.as_dict()

    def _try_snapshot_rollback(self, target: LakeTable) -> bool:
        """Whole-table time travel when every snapshot since migration start
        was written by this migration (no interleaved foreign writes)."""
        props = target.snapshot().properties
        start = props.get(f"migration_start_{self.config.id}")
        if start is None:
            return False
        try:
            v = target.current_version()
            while v is not None and v != start:
                snap = target.snapshot(v)
                writer = snap.properties.get("writer")
                if snap.operation not in ("migration-start",) and writer != self.config.id:
                    return False
                v = snap.parent
            if v != start:
                return False
            target.rollback_to_snapshot(start)
        except FileNotFoundError:
            # expire_snapshots may have removed an intermediate/start
            # manifest — fall back to the changelog-replay path
            return False
        return True

    # ------------------------------------------------------------------
    # clean()  (§3.3)

    def clean(self) -> dict[str, Any]:
        dropped = self.catalog.drop_table(self.config.rollback_table_name)
        HwmStore(self.config.warehouse, self.config.id).delete()
        return {"ok": 1, "dropped": dropped}

    def get_infos(self) -> dict[str, Any]:
        return {
            "collection": self.config.collection_name,
            "rollback_collection": self.config.rollback_table_name,
            "migration_id": self.config.id,
            "options": self.config.options.__dict__,
        }
