"""Extra measurement harness for optimization round 6 (guide §1).

NOT the official bench (bench.py is frozen): this file exists to isolate
phases and capture plans so optimizations are driven by measurements.

Modes:
  python bench_extra.py cdc   [--docs N] [--events-per-doc K] [--batches B]
                              [--buckets NB] [--repeat R]
      Runs the same CDC replay as bench.py's cdc leg (fresh warehouse per
      repeat) and prints the per-batch phase breakdown incl. the sub-phase
      timers the engine records (plan construction vs combined write etc.).

  python bench_extra.py queries [--names a,b,c] [--repeat R]
      Times each headline query two ways: `.count()` (the frozen bench's
      methodology) and a noop sink (computes every column — guide §1.4),
      and writes `.explain("formatted")` to plans/r06/<name>_<tag>.txt.

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py).
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

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "tpch_q1",
    "lookup_join",
    "last_wins",
    "dedup_exact",
    "minhash_bands",
    "text_quality",
    "ann_bruteforce",
]


def _spark():
    from mongo_bulk_data_migration_spark.session import get_spark

    return get_spark(
        app_name="mbdm-bench-extra", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )


def cdc(args) -> None:
    from mongo_bulk_data_migration_spark import Catalog
    from mongo_bulk_data_migration_spark.sources.fixtures import (
        SEQUENCES_SCHEMA,
        changes_df,
        sequences_df,
    )
    from mongo_bulk_data_migration_spark.streaming.replay import ChangeStreamReplayer

    import bench as B

    spark = _spark()
    if args.shj is not None:
        spark.conf.set(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", args.shj
        )
    n_docs = args.docs
    n_events = args.docs * args.events_per_doc
    per_core = B._host_probe(1, 8_000_000) if args.gate else None
    for r in range(args.repeat):
        if args.gate:
            B.wait_for_window(per_core, f"bx-{r}", [])
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


def cdcplans(args) -> None:
    """Capture .explain('formatted') for the CDC batch's three consumer
    frames (merge result, changelog pre-image, MoR delta) at a given shape —
    the plan evidence for plans/r06/."""
    from mongo_bulk_data_migration_spark import Catalog
    from mongo_bulk_data_migration_spark.operators.merge import build_merge_plan
    from mongo_bulk_data_migration_spark.sources.fixtures import (
        SEQUENCES_SCHEMA,
        changes_df,
        sequences_df,
    )
    from mongo_bulk_data_migration_spark.streaming.replay import ChangeStreamReplayer

    spark = _spark()
    n_docs = args.docs
    n_events = args.docs * args.events_per_doc
    os.makedirs(os.path.join("plans", "r06"), exist_ok=True)
    wh = tempfile.mkdtemp(prefix="mbdm_plans_")
    try:
        cat = Catalog(wh)
        t = cat.create_table("sequences", SEQUENCES_SCHEMA, num_buckets=args.buckets)
        t.append(sequences_df(spark, n_docs, parallelism=CPUS))
        events = changes_df(spark, n_docs, n_events, n_parts=CPUS, parallelism=CPUS)
        rep = ChangeStreamReplayer(spark, wh, "sequences", "plans", evolve_schema=False)
        epb = max(n_events // args.batches, 1)
        pending = rep.hwm.filter_events(spark, events)
        pre = rep._prestage(t, pending, epb, os.path.join(wh, "_tmp", "staged"))
        b0 = pre[min(pre)]
        plan = build_merge_plan(
            t, spark, None,
            update_cols=rep.engine._projected(t),
            carry_cols=["seq", "transform", "part"],
            value_exprs=rep._value_exprs(t),
            prestaged=b0,
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")
        for name, df in (
            ("cdc_merge_result", plan.result),
            ("cdc_changelog_preimage", plan.preimage),
        ):
            path = os.path.join("plans", "r06", f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(df._jdf.queryExecution().explainString(mode))
            print("wrote", path)
        plan.release()
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def queries(args) -> None:
    import __spark_entry__ as E

    spark = _spark()
    qs = E.queries()
    names = args.names.split(",") if args.names else HEADLINE
    os.makedirs(os.path.join("plans", "r06"), exist_ok=True)
    # warm like bench.py
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()
    out: dict[str, dict] = {}
    for name in names:
        rec: dict[str, list | float] = {"count_s": [], "noop_s": []}
        for r in range(args.repeat):
            spark.sparkContext.setJobDescription(f"bx {name} count #{r}")
            t0 = time.monotonic()
            df = qs[name](spark, SF_DIR)
            df.count()
            rec["count_s"].append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(f"bx {name} noop #{r}")
            t0 = time.monotonic()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            rec["noop_s"].append(round(time.monotonic() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        if args.tag:
            df = qs[name](spark, SF_DIR)
            with open(os.path.join("plans", "r06", f"{name}_{args.tag}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted")))
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)
    print(json.dumps({"summary": out}))


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="mode", required=True)
    c = sub.add_parser("cdc")
    c.add_argument("--docs", type=int, default=100_000)
    c.add_argument("--events-per-doc", type=int, default=4)
    c.add_argument("--batches", type=int, default=4)
    c.add_argument("--buckets", type=int, default=32)
    c.add_argument("--shj", default=None,
                   help="override AQE maxShuffledHashJoinLocalMapThreshold")
    c.add_argument("--gate", action="store_true",
                   help="wait for a clean host window before each repeat")
    c.add_argument("--repeat", type=int, default=1)
    c.set_defaults(fn=cdc)
    p = sub.add_parser("cdcplans")
    p.add_argument("--docs", type=int, default=100_000)
    p.add_argument("--events-per-doc", type=int, default=4)
    p.add_argument("--batches", type=int, default=4)
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--tag", default="after")
    p.set_defaults(fn=cdcplans)
    q = sub.add_parser("queries")
    q.add_argument("--names", default=None)
    q.add_argument("--repeat", type=int, default=2)
    q.add_argument("--tag", default=None, help="write plans/r06/<name>_<tag>.txt")
    q.set_defaults(fn=queries)
    a = ap.parse_args()
    a.fn(a)


if __name__ == "__main__":
    main()
