"""spark-submit entry point: replay a change-event log into a lake table.

Cluster usage (the north-rule deployment shape):

    zip -r mbdm.zip mongo_bulk_data_migration_spark
    spark-submit --py-files mbdm.zip jobs/replay_job.py \
        --warehouse /data/wh --table sequences --migration-id cdc1 \
        --events /data/oplog_parquet --events-per-batch 5000000

The events input is a parquet directory with the FIXTURES.md T2 schema
(seq, part, op, doc_id, tokens, transform, source, extra).  Resume is
automatic: per-partition HWM offsets + exactly-once batch markers mean
re-running after any crash converges to the same state.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--migration-id", required=True)
    ap.add_argument("--events", required=True, help="parquet dir of change events")
    ap.add_argument("--events-per-batch", type=int, default=5_000_000)
    ap.add_argument("--dedup-salt", type=int, default=None)
    ap.add_argument("--no-evolve-schema", action="store_true")
    ap.add_argument("--rollback", action="store_true", help="roll the migration back instead")
    ap.add_argument(
        "--t0-marker", default=None,
        help="touch this file when the TIMED apply starts (after any "
             "warmup) — lets an external CPU-attribution sampler scope "
             "per-role CPU-seconds to the measured window only",
    )
    ap.add_argument(
        "--warmup-events", type=int, default=0,
        help="before the timed apply, replay this many events into a "
             "throwaway table clone (untimed).  Executors in the deploy "
             "shape are long-running services; a fresh-JVM leg otherwise "
             "charges each executor's one-time JIT/codegen warmup to the "
             "measurement — measured 2026-08-19: a 4-executor leg burned "
             "~2x the executor CPU-seconds of a 1-executor leg on the same "
             "input, the difference being per-JVM warmup replicated 4x",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from mongo_bulk_data_migration_spark.plans.migration import MigrationOptions
    from mongo_bulk_data_migration_spark.streaming.replay import ChangeStreamReplayer

    # Apply the engine's session confs (mongo_bulk_data_migration_spark/
    # session.py) WITHOUT overriding spark-submit's master/deploy settings.
    # A bare builder silently ran the deploy shape with stock defaults —
    # including snappy parquet, whose native codec path serializes under
    # many concurrent writers of nested (token-array) columns in this
    # environment (see session.py) — so the cluster legs measured codec
    # contention, not the engine.  (None of these keys are passed via
    # --conf by any caller; shuffle partitions / locality / local.dir stay
    # submit-controlled.)
    b = SparkSession.builder.appName(f"mbdm-replay-{args.migration_id}")
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": os.environ.get(
            "MBDM_CODEC", "uncompressed"),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    rep = ChangeStreamReplayer(
        spark,
        args.warehouse,
        args.table,
        args.migration_id,
        options=MigrationOptions(dedup_salt=args.dedup_salt),
        evolve_schema=not args.no_evolve_schema,
    )
    if args.rollback:
        res = rep.rollback()
        print(json.dumps({"rollback": res}, default=str))
        return
    events = spark.read.parquet(args.events)
    import time

    if args.warmup_events > 0:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        wtmp = tempfile.mkdtemp(prefix="replay_warm_")
        try:
            # clone the table's CURRENT content into a scratch warehouse and
            # replay a bounded event slice through the full engine path —
            # same plans, same codegen shapes, nothing of the timed state
            src_tbl = os.path.join(args.warehouse, args.table)
            shutil.copytree(src_tbl, os.path.join(wtmp, args.table))
            warm = ChangeStreamReplayer(
                spark, wtmp, args.table, f"{args.migration_id}-warm",
                options=MigrationOptions(dedup_salt=args.dedup_salt),
                evolve_schema=not args.no_evolve_schema,
            )
            warm.apply_changes(
                events.where(F.col("seq") < args.warmup_events),
                events_per_batch=max(args.warmup_events // 2, 1),
            )
        finally:
            shutil.rmtree(wtmp, ignore_errors=True)

    if args.t0_marker:
        with open(args.t0_marker, "w") as f:
            f.write(str(time.time()))
    t0 = time.monotonic()
    metrics = rep.apply_changes(events, events_per_batch=args.events_per_batch)
    wall = time.monotonic() - t0
    n = sum(m["n_events"] for m in metrics)
    batches_wall = sum(m["wall_s"] for m in metrics)
    print(
        json.dumps(
            {
                "batches": len(metrics),
                "events": n,
                # end-to-end apply_changes wall — the SAME definition the
                # headline scaling harness (jobs/scaling_bench.py) uses.
                # Summing only per-batch walls (the pre-round-4 metric)
                # excluded the whole-window prestage — the event scan +
                # last-wins collapse that is precisely the partition-parallel
                # work that scales with executors — so cluster pairs measured
                # only the fixed-cost tail and read as flat.
                "wall_s": round(wall, 2),
                "events_per_sec": round(n / wall, 1) if wall else None,
                "batches_wall_s": round(batches_wall, 2),
                "prestage_s": round(wall - batches_wall, 2),
                # per-batch phase breakdown: attributes a non-scaling leg to
                # plan/changelog/merge instead of leaving it a mystery
                "batch_phases": [
                    {
                        k: m.get(k)
                        for k in ("batch_id", "wall_s", "lineage_s", "plan_s",
                                  "changelog_s", "merge_s")
                    }
                    for m in metrics
                ],
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
