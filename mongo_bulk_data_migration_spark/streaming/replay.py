"""Oplog-style change-stream replay: micro-batched, checkpointed, exactly-once.

The reference's batch cursor loop (``/root/reference/src/MongoBulkDataMigration.ts:160-201``:
accumulate <= maxBulkSize, backup bulk, migration bulk, progress, throttle) is
re-expressed as a deterministic micro-batch replay over a ``seq``-ordered
event log (the CDC generalization its resume contract already implies,
SURVEY.md §2.9-2.10):

per batch (seq range, stable across crashes):
  1. HWM filter        where(seq > hwm[part])            [R1]
  2. last-wins collapse one event per key                 [§2.5]
  3. changelog append  pre-images, first-write-wins       [S5, B2: BEFORE merge]
  4. MERGE commit      + atomic `applied` batch marker    [S4, J2]
  5. HWM advance       per-partition max seq              [R1]
  6. metrics emit      lineage + throughput row           [A4, B6]

Steps 3-4 are the batch-commit protocol ``update()`` runs too
(:class:`..plans.engine.BatchCommit`: the merge's file writes overlap the
append, the two manifest commits stay ordered); steps 1-2 run once per
window in the prestage, steps 5-6 in ``_advance``.

Exactly-once: steps 3 and 4 are idempotent (markers committed atomically with
their data); step 5 lags them. A crash between any two steps replays the
batch; markers turn the replay into no-ops, so effective state is applied
once — the analog of the reference's `$setOnInsert` + safe-to-run-twice
contract (``BackupBulk.ts:17-26``, ``README.md:21``).

Transforms are evaluated INSIDE the merge join (one target scan, JVM-side
expressions): an `update` event's new token array is computed from the
matched target row + the event payload, never via a second pass.

Schema evolution: events carrying a non-null column the target lacks trigger
an online ``add_columns`` (nullable, no file rewrite) before the batch merge.
"""

from __future__ import annotations

import logging
import os
import time
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..functions.tokens import parse_transform, transform_expr
from ..operators.dedup import last_wins
# stage_merge/commit_merge are unused here but perfbench/trace.py patches them on this module
from ..operators.merge import OP_COL, build_merge_plan, commit_merge, stage_merge  # noqa: F401
from ..plans.engine import BatchCommit, MongoBulkDataMigrationSpark, overlap
from ..plans.engine import SimulatedCrash  # noqa: F401  (re-exported for callers)
from ..plans.obsutil import observed
from ..plans.hwm import HwmStore
from ..plans.metrics import MetricsSink, codegen_compiles
from ..plans.migration import DataMigrationConfig, MigrationOptions
from ..sources.catalog import Catalog
from ..sources.laketable import LakeTable, is_widening

log = logging.getLogger("mbdm-spark")

# event columns that $set scalar target columns when non-null
SCALAR_SET_COLS = ("source", "extra")

# the parsed transform DSL (functions/tokens.py: parse_transform), carried
# per event like seq/part; a NULL name marks a malformed transform
TRANSFORM_PAIR = ("transform_name", "transform_arg")

# the staged batch id of a stream epoch; its directory is renamed to the
# epoch id after the write (see _prestage)
_EPOCH_SLOT = 0


def _valid_event_expr(transform_name: Column):
    """B5 validity predicate: which change events are well-formed enough to
    apply (`AbstractBulkOperationResults.ts:60-73`).  ``transform_name`` is
    the parsed DSL name: NULL for a transform outside the grammar or with an
    argument its transform cannot take (``remap_mod:0``, > 2^31-1), which
    would otherwise fail the whole batch under ANSI mode.  NULL-safe
    comparisons throughout: a delete event carries NULL transform and NULL
    tokens, and ``~(col == lit)`` is NULL (not true) for NULL input — with
    plain equality such rows satisfied NEITHER where(valid) NOR where(~valid)
    and silently vanished from the batch (caught by the `dead_letter` driver
    oracle, r3).
    """
    return (
        F.col("op").isin("insert", "update", "delete")
        & (~F.col("op").eqNullSafe("insert") | F.col("tokens").isNotNull())
        & (F.col("transform").isNull() | transform_name.isNotNull())
        & (~transform_name.eqNullSafe("set_tokens") | F.col("tokens").isNotNull())
    )


class ChangeStreamReplayer:
    """Applies an insert/update/delete event stream to a LakeTable."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        table_name: str,
        migration_id: str,
        options: MigrationOptions | None = None,
        evolve_schema: bool = True,
    ):
        self.spark = spark
        self.catalog = Catalog(warehouse)
        self.config = DataMigrationConfig(
            warehouse=warehouse,
            collection_name=table_name,
            id=migration_id,
            options=options or MigrationOptions(),
        )
        self.evolve_schema = evolve_schema
        self.engine = MongoBulkDataMigrationSpark(spark, self.config)
        self.hwm = HwmStore(warehouse, migration_id)
        self.metrics = MetricsSink(warehouse, migration_id)

    # ------------------------------------------------------------------

    def apply_changes(
        self,
        events: DataFrame,
        events_per_batch: int = 5000,
        max_batches: int | None = None,
        crash_after: tuple[int, str] | None = None,  # fault injection for tests
    ) -> list[dict[str, Any]]:
        """Replay ``events`` (schema per FIXTURES.md T2) in seq-range batches.

        Batch boundaries are ``batch_id = seq // events_per_batch`` — a pure
        function of the data, so a resumed run re-derives identical batches
        (the crash-safety anchor; the reference's batch split is likewise
        deterministic, pinned as [30,30,30,10] in `update.test.ts:228-277`).
        """
        from pyspark.sql import Observation

        target = self.catalog.load_table(self.config.collection_name)
        pending_plan = self.hwm.filter_events(self.spark, events)
        with self.catalog.scratch("replay") as root:
            if self.config.options.stage_pending:
                # Stage the HWM-filtered stream to parquet scratch ONCE: for
                # an EXPENSIVE upstream lineage (multi-way joins, decode UDFs)
                # this pays it a single time, and every later pass is a
                # column-pruned scan with row-group min/max skipping.  NOT
                # `.persist()` — InMemoryRelation is a slow scan path for
                # array-heavy event payloads.  Bounds ride the staging write
                # via an Observation (no separate agg job).
                scratch = os.path.join(root, "pending")
                o_bounds = Observation("replay-bounds")
                pending_plan.observe(
                    o_bounds, F.min("seq").alias("lo"), F.max("seq").alias("hi")
                ).write.mode("overwrite").option(
                    "compression", "uncompressed"
                ).parquet(scratch)
                # eliminated observe node <=> statically empty input; real
                # failures propagate (obsutil narrows the catch)
                bounds = observed(o_bounds)
                if bounds.get("lo") is None:
                    return []
                pending = self.spark.read.schema(pending_plan.schema).parquet(scratch)
            else:
                # Direct mode (default): skip the full-width pending scratch
                # — at 10^7-event windows it writes AND re-reads the entire
                # token payload once each before any real work.  The extra
                # passes the scratch used to serve become column-pruned
                # re-scans of the upstream instead (lineage agg reads
                # (seq, part); the replay-of-applied path reads 2 columns),
                # which Catalyst prunes at the source — cheap for file-backed
                # or generated events.  Correctness is unchanged: every pass
                # is a deterministic function of (events, HWM), the same
                # property crash-resume already requires.  Batch bounds come
                # from the prestage lineage aggregation (no bounds job).
                pending = pending_plan
            return self._replay_window(
                target, pending, root, events_per_batch,
                max_batches=max_batches, crash_after=crash_after,
            )

    def _replay_window(
        self,
        target: LakeTable,
        pending: DataFrame,
        root: str,
        events_per_batch: int,
        forced_batch: int | None = None,
        max_batches: int | None = None,
        crash_after: tuple[int, str] | None = None,
    ) -> list[dict[str, Any]]:
        """Apply every batch of ``pending`` in one :class:`BatchCommit`
        window, in batch order."""
        # prestage path: collapse + prepare EVERY batch's merge source in
        # one partitioned write and fold all per-batch stats jobs
        # (lineage collect, staging observation, touched-bucket
        # discovery) into two whole-window aggregations — the per-batch
        # serial floor drops by ~1/3.  Dead-letter mode (B5) rides the
        # same path since round 4: the validity split happens inside the
        # prestage (one partitioned dead-letter write for the whole
        # window; per-batch dead counts fold into the lineage agg).
        if self.evolve_schema:
            # payload-drift evolution hoisted to the window start:
            # all drift is visible in `pending`, and add/widen are
            # metadata-only — same final schema as per-batch checks
            self._maybe_evolve(target, pending)
        pre_batches = self._prestage(
            target, pending, events_per_batch, os.path.join(root, "staged"),
            forced_batch=forced_batch,
        )
        if not pre_batches:
            return []
        # invariant plan inputs hoisted out of the batch loop (the
        # schema is fixed for the window once evolution ran above):
        # Column expression trees are immutable and reusable, so the
        # py4j construction cost is paid once per window, not per batch
        plan_exprs = (self.engine._projected(target), *self._value_exprs(target))
        # lineage agg == exact per-batch event presence, so the batch
        # range derived from it matches the old bounds observation
        first_b, last_b = min(pre_batches), max(pre_batches)
        out: list[dict[str, Any]] = []
        with BatchCommit(self.engine, target, crash_after) as window:
            for i, b in enumerate(range(first_b, last_b + 1)):
                if max_batches is not None and i >= max_batches:
                    break
                if b not in pre_batches:
                    continue  # empty seq range (gap below the HWM)
                lo, hi = b * events_per_batch, (b + 1) * events_per_batch - 1
                batch = pending if forced_batch is not None else pending.where(
                    (F.col("seq") >= lo) & (F.col("seq") <= hi))
                m = self._apply_batch(window, target, batch, b, pre_batches[b], plan_exprs)
                if m is not None:
                    out.append(m)
                if self.config.options.throttle_ms:
                    time.sleep(self.config.options.throttle_ms / 1000.0)
        return out

    # ------------------------------------------------------------------

    def _prestage(
        self,
        target: LakeTable,
        pending: DataFrame,
        events_per_batch: int,
        out_dir: str,
        forced_batch: int | None = None,
    ) -> dict[int, dict[str, Any]]:
        """Collapse + prepare EVERY batch's merge source in one partitioned
        write (``__c_batch=<id>/`` directories), then fold all per-batch
        stats into two whole-window aggregations:

        1. staged stats (per batch): source-key counts + touched
           buckets — replaces the per-batch staging Observation;
        2. raw lineage (per batch, part): event count + max seq — replaces
           the per-batch lineage collect, and is EXACT (the collapsed max
           could only lag it when a key's events span parts).

        Each event's transform is parsed here, once, into the typed
        ``TRANSFORM_PAIR`` the merge reads; the batch id rides the staged
        rows as their partition value.  So a batch's plans hold no per-batch
        literal and batch after batch reuses the same generated classes.

        Dead-letter mode (B5, ``continue_on_bulk_write_error``): malformed
        events are split out BEFORE the collapse (a valid earlier event must
        not be shadowed by a malformed later one — same order as the old
        per-batch path), written once for the whole window as a
        ``__batch``-partitioned parquet under the dead-letter root (dynamic
        partition overwrite keeps earlier windows' batches intact on
        resume), and per-batch dead counts ride the lineage aggregation —
        zero extra per-batch jobs.  A batch whose events are ALL malformed
        gets ``path=None``: no merge source, but its lineage row still
        advances the HWM (livelock guard, ADVICE r2).

        Staging is pure scratch, so crash semantics are unchanged: a resumed
        run re-stages from its own HWM-filtered pending set.
        """
        from ..operators.merge import _prep_source, check_source_types
        from ..sources.laketable import BUCKET_COL

        sc = self.spark.sparkContext
        opts = self.config.options
        epb = max(int(events_per_batch), 1)
        # forced_batch: streaming epochs are batch-identified by the stream's
        # epoch id, not by a seq range — the whole frame IS one batch.  Its
        # plans hold the constant _EPOCH_SLOT, and the staged directory is
        # renamed to the epoch id below, so every epoch plans the same code
        forced = forced_batch is not None
        batch_expr = F.lit(_EPOCH_SLOT).cast("long") if forced else F.expr(f"seq DIV {epb}")

        def batch_of(slot: Any) -> int:
            return int(forced_batch) if forced else int(slot)

        sc.setJobDescription("cdc prestage: collapse+stage all batches")
        name, arg = parse_transform(F.col("transform"))
        with_b = pending.withColumn("__batch", batch_expr).withColumns(
            dict(zip(TRANSFORM_PAIR, (name, arg)))
        )
        valid = (
            _valid_event_expr(F.col(TRANSFORM_PAIR[0]))
            if opts.continue_on_bulk_write_error else None
        )
        live = with_b.where(valid) if valid is not None else with_b
        collapsed = last_wins(
            live,
            key=target.key_col,
            order="seq",
            n_salt=opts.dedup_salt,
            extra_group=("__batch",),
        )
        src = self._map_ops(collapsed)
        if not opts.bypass_validation:
            check_source_types(target, src)
        carry = [c for c in ("seq", "part", *TRANSFORM_PAIR) if c in src.columns]
        prepped = _prep_source(target, src, carry).withColumn(
            "__c_batch",
            F.lit(_EPOCH_SLOT).cast("long") if forced else F.expr(f"__c_seq DIV {epb}"),
        )
        # The raw-lineage aggregation reads only (seq, part) of the PENDING
        # stream — independent of the staging write — so it runs on a driver
        # thread OVERLAPPED with the write (guide §2.6: overlap independent
        # jobs); the staged-stats aggregation needs the written files and
        # runs on the main thread right after.
        lineage_aggs = [F.count(F.lit(1)).alias("n"), F.max("seq").alias("max_seq")]
        if valid is not None:
            lineage_aggs.append(
                F.sum(F.when(_valid_event_expr(name), 0).otherwise(1)).alias("n_dead")
            )
        lrows_q = pending.groupBy(
            batch_expr.alias("__batch"), F.col("part")
        ).agg(*lineage_aggs)

        def _collect_lineage() -> list:
            sc.setJobDescription("cdc prestage: per-batch lineage")
            return lrows_q.collect()

        def _stage_and_stats() -> list:
            prepped.write.partitionBy("__c_batch").mode("overwrite").option(
                "compression", "uncompressed"
            ).parquet(out_dir)
            sc.setJobDescription("cdc prestage: per-batch stats")
            staged_all = self.spark.read.schema(prepped.schema).parquet(out_dir)
            return staged_all.groupBy("__c_batch").agg(
                F.count(F.lit(1)).alias("n_source_keys"),
                F.collect_set(F.col(BUCKET_COL)).alias("touched"),
            ).collect()

        lrows, srows = overlap(_collect_lineage, _stage_and_stats)
        if forced and srows and forced_batch != _EPOCH_SLOT:
            # the epoch id enters the data as the directory's partition value
            os.rename(
                os.path.join(out_dir, f"__c_batch={_EPOCH_SLOT}"),
                os.path.join(out_dir, f"__c_batch={int(forced_batch)}"),
            )
        if valid is not None and any(int(r["n_dead"]) for r in lrows):
            # one partitioned write for the whole window; dynamic partition
            # overwrite keeps dead-letter batches from earlier windows, and
            # per-batch re-runs after a crash overwrite only their own dir
            dl_root = os.path.join(
                self.config.warehouse, "_state", f"deadletter_{self.config.id}"
            )
            sc.setJobDescription("cdc prestage: dead-letter write")
            dead = with_b.where(~valid).drop(*TRANSFORM_PAIR)
            if forced:
                dead = dead.withColumn("__batch", F.lit(int(forced_batch)).cast("long"))
            dead.withColumn(
                "__reason", F.lit("malformed-event")
            ).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("__batch").parquet(dl_root)
            log.warning(
                "%s malformed events dead-lettered to %s",
                sum(int(r["n_dead"]) for r in lrows), dl_root,
            )
        sc.setJobDescription(None)
        stats: dict[int, dict[str, Any]] = {}
        for r in lrows:
            b = batch_of(r["__batch"])
            st = stats.setdefault(b, {
                "path": None,  # set below iff the batch staged any rows
                "schema": prepped.schema,
                "batch": b,
                "touched": [],
                "static_metrics": {"n_source_keys": 0},
                "part_hwm": {},
                "n_events": 0,
                "n_dead": 0,
            })
            st["part_hwm"][int(r["part"])] = int(r["max_seq"])
            st["n_events"] += int(r["n"])
            if valid is not None:
                st["n_dead"] += int(r["n_dead"])
        for r in srows:
            b = batch_of(r["__c_batch"])
            st = stats.get(b)
            if st is None:
                continue  # unreachable: staged rows derive from pending
            st.update(
                path=os.path.join(out_dir, f"__c_batch={b}"),
                touched=sorted(int(x) for x in (r["touched"] or [])),
                static_metrics={"n_source_keys": int(r["n_source_keys"])},
            )
        return stats

    def apply_epoch(self, batch_df: DataFrame, epoch_id: int) -> dict[str, Any] | None:
        """One stream epoch == one engine batch (the ``foreachBatch`` bridge
        used by :class:`.structured.StreamingIngest`).  The epoch rides the
        SAME prestage as seq-range replay — identical job-count floor and
        dead-letter semantics — with the stream's epoch id as the batch id,
        so Structured Streaming's replay-after-crash hits the engine's
        applied-marker no-op exactly like a seq-range re-run."""
        target = self.catalog.load_table(self.config.collection_name)
        with self.catalog.scratch("epoch") as root:
            out = self._replay_window(
                target, batch_df, root, 1, forced_batch=int(epoch_id)
            )
        return out[0] if out else None  # None: empty epoch

    def _apply_batch(
        self,
        window: BatchCommit,
        target: LakeTable,
        batch: DataFrame,
        batch_id: int,
        pre: dict[str, Any],
        plan_exprs: tuple,
    ) -> dict[str, Any] | None:
        t0, c0 = time.monotonic(), codegen_compiles(self.spark)
        cfg = self.config

        marker = target.applied_marker(cfg.id)
        if marker is not None and marker.get("batch_id", -1) >= batch_id:
            # rare replay-of-applied path (crash after merge, before HWM):
            # lineage from the raw batch — one pruned 2-column scan
            part_rows = batch.groupBy("part").agg(
                F.max("seq").alias("max_seq"), F.count(F.lit(1)).alias("n")
            ).collect()
            if not part_rows:
                return None
            part_hwm = {int(r["part"]): int(r["max_seq"]) for r in part_rows}
            return self._advance(window, t0, c0, batch_id, part_hwm,
                                 sum(r["n"] for r in part_rows), replayed=True)

        # prestaged path (the only path since round 4): evolution hoisted to
        # the window start, source already collapsed/prepared, stats (incl.
        # per-batch dead-letter counts) precomputed — zero per-batch staging
        # or lineage jobs
        if not pre["part_hwm"]:
            return None
        part_hwm = dict(pre["part_hwm"])
        n_dead = int(pre.get("n_dead", 0))
        if pre["path"] is None:
            # every event in this batch was dead-lettered (B5): nothing to
            # merge, but the HWM must still advance past them — otherwise
            # every later run re-filters and re-dead-letters the same
            # malformed events forever (livelock, ADVICE r2).  The
            # dead-letter write is idempotent (dynamic partition overwrite),
            # so a crash before this advance replays cleanly.
            return self._advance(window, t0, c0, batch_id, part_hwm, pre["n_events"],
                                 n_dead_lettered=n_dead)
        t_lineage = time.monotonic() - t0
        phases = window.commit(
            lambda: build_merge_plan(
                target,
                self.spark,
                None,
                update_cols=plan_exprs[0],
                carry_cols=["seq", "part", *TRANSFORM_PAIR, "batch"],
                value_exprs=plan_exprs[1],
                derived_exprs=plan_exprs[2],
                bypass_validation=cfg.options.bypass_validation,
                prestaged=pre,
            ),
            batch_id,
            operation=f"cdc-{cfg.id}-batch-{batch_id}",
            update_query=f'{{"cdc_batch": {batch_id}}}',
            marker={"batch_id": batch_id, "max_seq": max(part_hwm.values())},
        )
        return self._advance(window, t0, c0, batch_id, part_hwm, pre["n_events"],
                             n_dead_lettered=n_dead, lineage_s=round(t_lineage, 4),
                             **phases)

    def _advance(
        self,
        window: BatchCommit,
        t0: float,
        c0: int,
        batch_id: int,
        part_hwm: dict[int, int],
        n_events: int,
        **row: Any,
    ) -> dict[str, Any]:
        """The batch's tail: the ``merge`` crash point, the HWM advance (it
        lags the merge commit, so a crash before it replays the batch into
        the applied-marker no-op above), then the metrics row; ``t0``/``c0``
        are the batch's start time and :func:`codegen_compiles` reading."""
        window.crash_point(batch_id, "merge")
        self.hwm.advance(part_hwm, batch_id)
        wall = time.monotonic() - t0
        m = {
            "migration_id": self.config.id,
            "batch_id": batch_id,
            "n_events": int(n_events),
            "n_parts": len(part_hwm),
            "part_hwm": part_hwm,
            "max_seq": max(part_hwm.values()),
            "n_backups": 0,
            "n_dead_lettered": 0,
            "replayed": False,
            "wall_s": round(wall, 4),
            "events_per_sec": round(n_events / wall, 1) if wall > 0 else None,
            "codegen_compiles": codegen_compiles(self.spark) - c0,
            **row,
        }
        self.metrics.emit(m)
        return m

    # ------------------------------------------------------------------

    def _maybe_evolve(self, target: LakeTable, batch: DataFrame) -> None:
        """Online schema evolution driven by event payload drift: ADD COLUMN
        for new scalar payload fields, WIDEN COLUMN (int->long etc.) when the
        incoming batch carries a strictly wider type than the table. Both are
        metadata-only manifest commits — no file rewrite."""
        known = {f.name for f in target.schema.fields}
        candidates = [c for c in SCALAR_SET_COLS if c in batch.columns and c not in known]
        for c in candidates:
            if batch.where(F.col(c).isNotNull()).take(1):
                log.info("schema evolution: adding column %s to %s", c, target.root)
                target.add_columns([T.StructField(c, batch.schema[c].dataType, True)])
        for f in target.schema.fields:
            if f.name in batch.columns and is_widening(
                f.dataType, batch.schema[f.name].dataType
            ):
                log.info(
                    "schema evolution: widening %s %s -> %s", f.name,
                    f.dataType.simpleString(), batch.schema[f.name].dataType.simpleString(),
                )
                target.widen_column(f.name, batch.schema[f.name].dataType)

    def _map_ops(self, collapsed: DataFrame) -> DataFrame:
        """Map CDC ops on a collapsed event frame to merge ops."""
        op = (
            F.when(F.col("op") == "insert", F.lit("put"))
            .when(F.col("op") == "delete", F.lit("delete"))
            .otherwise(F.lit("update"))
        )
        src = collapsed.withColumn(OP_COL, op)
        # insert rows: n_tok invariant from the payload
        src = src.withColumn(
            "n_tok",
            F.when(F.col(OP_COL) == "put", F.size("tokens")).cast("int"),
        )
        return src

    def _value_exprs(self, target: LakeTable) -> tuple[dict, dict]:
        """Column expressions for 'update'-op rows, evaluated inside the
        merge join: target columns by name, source (event) columns as
        __s_<col> / carried columns as __c_<col>.  Returns the merge's
        ``value_exprs`` and ``derived_exprs``: the new token array is
        computed once per row from the prestage's parsed pair (a NULL
        name keeps the row's tokens), and ``n_tok`` is its size."""
        name, arg = (F.col(f"__c_{c}") for c in TRANSFORM_PAIR)
        new_tokens = transform_expr(F.col("tokens"), name, arg, F.col("__s_tokens"))
        exprs = {"tokens": new_tokens.cast(target.schema["tokens"].dataType)}
        for c in SCALAR_SET_COLS:
            if c in {f.name for f in target.schema.fields}:
                exprs[c] = F.coalesce(F.col(f"__s_{c}"), F.col(c))
        return exprs, {"n_tok": F.size("__new_tokens").cast("int")}

    # ------------------------------------------------------------------

    def rollback(self) -> dict[str, Any]:
        return self.engine.rollback()

    def clean(self) -> dict[str, Any]:
        return self.engine.clean()

