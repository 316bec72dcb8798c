"""Data-bound CDC replay cross-check (not the gated benchmark).

  python bench_extra.py cdc [--docs N] [--events-per-doc K] [--batches B]
                            [--buckets NB] [--repeat R]

Runs the same CDC replay as bench.py's cdc leg (fresh warehouse per repeat)
and prints one JSON row per repeat with the per-batch phase breakdown the
engine records.  At the default 100k documents the replay is data-bound,
unlike perfbench's compile-bound ``replay_bulk``, so it cross-checks a
gain measured on ``replay_bulk``.

Env: SPARK_GRAFT_CPUS (same contract as bench.py), MBDM_DRIVER_MEM.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def cdc(args) -> None:
    from mongo_bulk_data_migration_spark import Catalog
    from mongo_bulk_data_migration_spark.session import get_spark
    from mongo_bulk_data_migration_spark.sources.fixtures import (
        SEQUENCES_SCHEMA,
        changes_df,
        sequences_df,
    )
    from mongo_bulk_data_migration_spark.streaming.replay import ChangeStreamReplayer

    import bench as B

    spark = get_spark(
        app_name="mbdm-bench-extra", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    n_docs = args.docs
    n_events = args.docs * args.events_per_doc
    for r in range(args.repeat):
        probe0 = B._host_probe(8, 1_000_000)
        wh = tempfile.mkdtemp(prefix="mbdm_bx_")
        try:
            cat = Catalog(wh)
            t = cat.create_table("sequences", SEQUENCES_SCHEMA, num_buckets=args.buckets)
            t0 = time.monotonic()
            t.append(sequences_df(spark, n_docs, parallelism=CPUS))
            load_s = time.monotonic() - t0
            events = changes_df(spark, n_docs, n_events, n_parts=CPUS, parallelism=CPUS)
            rep = ChangeStreamReplayer(
                spark, wh, "sequences", f"bx{r}", evolve_schema=False
            )
            t1 = time.monotonic()
            ms = rep.apply_changes(
                events, events_per_batch=max(n_events // args.batches, 1)
            )
            replay_s = time.monotonic() - t1
            print(json.dumps({
                "repeat": r,
                "docs": n_docs,
                "events": n_events,
                "probe8_mops": [probe0, B._host_probe(8, 1_000_000)],
                "load_s": round(load_s, 2),
                "replay_s": round(replay_s, 2),
                "events_per_sec": round(n_events / replay_s, 1),
                "phases": [
                    {k: v for k, v in m.items()
                     if k.endswith("_s") or k.endswith("_ms")
                     or k in ("batch_id", "append_detail")}
                    for m in ms
                ],
            }), flush=True)
        finally:
            shutil.rmtree(wh, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="mode", required=True)
    c = sub.add_parser("cdc")
    c.add_argument("--docs", type=int, default=100_000)
    c.add_argument("--events-per-doc", type=int, default=4)
    c.add_argument("--batches", type=int, default=4)
    c.add_argument("--buckets", type=int, default=32)
    c.add_argument("--repeat", type=int, default=1)
    c.set_defaults(fn=cdc)
    a = ap.parse_args()
    a.fn(a)


if __name__ == "__main__":
    main()
