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
import sys
import time


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
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from mongo_bulk_data_migration_spark.plans.migration import MigrationOptions
    from mongo_bulk_data_migration_spark.streaming.replay import ChangeStreamReplayer

    # Apply the engine's SQL confs (mongo_bulk_data_migration_spark/
    # session.py: engine_conf) WITHOUT overriding spark-submit's master/
    # deploy settings.  A bare builder would run with stock defaults,
    # including snappy parquet for table and changelog files, whose native
    # codec path serializes under many concurrent writers of nested
    # (token-array) columns (see session.py).  Master, deploy mode, driver
    # memory, shuffle partitions, locality and local dirs stay
    # submit-controlled.
    from mongo_bulk_data_migration_spark.session import engine_conf

    b = SparkSession.builder.appName(f"mbdm-replay-{args.migration_id}")
    for k, v in engine_conf().items():
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
                # end-to-end apply_changes wall, the whole-window prestage
                # (event scan + last-wins collapse) included; the per-batch
                # walls alone leave out that partition-parallel work
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
