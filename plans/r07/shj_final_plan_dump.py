"""Does the AQE shuffled-hash-join conf in ``session.py`` fire?

Runs one ``replay_bulk``-shaped replay (the benchmark's seeded inputs, 2
batches) and one 3-batch ``update()`` on the replayed table, reads each SQL
execution's ``isFinalPlan=true`` physical plan from the SQL status store
(no UI needed), and prints the join operators of every batch's merge write
and changelog append — once with the session's
``spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold`` and once with it
set to 0 (Spark's default).  The first batch's final-plan trees are printed
in full.

    python3 plans/r07/shj_final_plan_dump.py > plans/r07/shj_final_plan.txt
"""
import os
import re
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [ROOT, os.path.join(ROOT, "jobs")]
os.environ.setdefault("MBDM_DRIVER_MEM", "3g")

from mongo_bulk_data_migration_spark import (  # noqa: E402
    DataMigrationConfig, MigrationOptions, MongoBulkDataMigrationSpark)
from mongo_bulk_data_migration_spark.session import get_spark  # noqa: E402
from mongo_bulk_data_migration_spark.streaming.replay import ChangeStreamReplayer  # noqa: E402
from perfbench.checks import ReferenceCache  # noqa: E402
from perfbench.workloads import TABLE, WORKLOADS  # noqa: E402

CONF = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
JOINS = ("ShuffledHashJoin", "SortMergeJoin", "BroadcastHashJoin")


def final_tree(plan: str) -> str:
    tree = plan.split("== Physical Plan ==")[-1].split("\n\n")[0]
    return tree.split("+- == Initial Plan ==")[0]


def run(spark, work: str) -> list[tuple[str, str]]:
    store = spark._jsparkSession.sharedState().statusStore()

    def executions() -> list[tuple[str, str]]:
        it, out = store.executionsList().iterator(), []
        while it.hasNext():
            e = it.next()
            out.append((e.description(), e.physicalPlanDescription()))
        return out

    wl = WORKLOADS["replay_bulk"](spark, 97, work, 4, ReferenceCache(os.path.join(work, "ref")))
    wl.prepare()
    wh = wl.tables[0]
    n0 = len(executions())
    ChangeStreamReplayer(spark, wh, TABLE, "bulk", evolve_schema=False).apply_changes(
        wl._events_df(wl.events_path), events_per_batch=wl.N_EVENTS // wl.N_BATCHES)
    MongoBulkDataMigrationSpark(spark, DataMigrationConfig(
        warehouse=wh, collection_name=TABLE, id="upd", update=("transform", "append_eos"),
        options=MigrationOptions(max_bulk_size=wl.N_DOCS // 2))).update()
    return [(d, p) for d, p in executions()[n0:]
            if d.endswith((": merge-write", ": changelog")) and "isFinalPlan=true" in p]


def main() -> None:
    spark = get_spark(app_name="shj-final-plan", master="local[4]", shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    for value in (spark.conf.get(CONF), "0"):
        spark.conf.set(CONF, value)
        work = tempfile.mkdtemp(prefix="shj-")
        try:
            exs = run(spark, work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(f"===== {CONF}={value}")
        for desc, plan in exs:
            tree = final_tree(plan)
            found = {j: len(re.findall(rf"\b{j}\b", tree)) for j in JOINS}
            print(f"{desc:40s} " + " ".join(f"{j}={n}" for j, n in found.items()))
        for desc, plan in exs:
            if desc.endswith("-batch-0: merge-write"):
                print(f"\n--- {desc}: isFinalPlan=true tree\n{final_tree(plan)}")
        print()
    spark.stop()


if __name__ == "__main__":
    main()
