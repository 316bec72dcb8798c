"""Physical-plan contracts: the scale properties the engine is designed
around, pinned so a refactor cannot silently regress them.

Each test asserts on `explain(formatted)` output — the same audit the
100 TB design review does by hand: filters reach the parquet scan, column
pruning holds, small sides broadcast, and no operator funnels through a
single-task global sort.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"

needs_testdata = pytest.mark.skipif(
    not os.path.exists(os.path.join(SF, "lineitem.parquet")),
    reason="driver testdata not present",
)


def formatted(df) -> str:
    jdf = df._jdf
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jdf.queryExecution().explainString(mode)


@needs_testdata
def test_filter_project_pushdown_and_pruning(spark):
    """S1: predicate pushdown + column pruning reach the parquet scan."""
    import __spark_entry__ as E

    plan = formatted(E.q_filter_project(spark, SF))
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan
    # pruned read: the scan schema must not include unprojected wide columns
    scan_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schemas and all("l_comment" not in s for s in scan_schemas)


@needs_testdata
def test_lookup_subpipeline_pushdown_and_broadcast(spark):
    """J1 + sub-pipeline: the right_pipeline filter is pushed into the right
    scan, the aggregated right side broadcasts, and the left side is NEVER
    shuffled (no exchange between the left scan and the join)."""
    import __spark_entry__ as E

    plan = formatted(E.q_lookup_pipeline(spark, SF))
    assert "EqualTo(o_orderstatus,O)" in plan
    assert "BroadcastHashJoin" in plan
    # left side feeds the join directly: exactly one (right-side) hash
    # exchange plus the broadcast exchange, nothing repartitioning customer
    tree = plan.split("\n\n")[0]  # the operator tree, before the details
    n_shuffles = tree.count("- Exchange")
    assert n_shuffles == 1, f"expected 1 shuffle (right pre-agg), saw {n_shuffles}\n{tree}"


def test_split_batches_window_is_partitioned(spark, tmp_path):
    """VERDICT r2 #6 contract: batch-boundary ranking must never plan a
    global (SinglePartition) sort — the window is partitioned by the staged
    range-partition id."""
    from pyspark.sql import Window

    scratch = str(tmp_path / "staged")
    (
        spark.range(0, 5000)
        .select(F.format_string("doc%08d", "id").alias("doc_id"))
        .repartitionByRange(4, F.col("doc_id"))
        .sortWithinPartitions("doc_id")
        .withColumn("__pid", F.spark_partition_id())
        .write.parquet(scratch)
    )
    staged = spark.read.parquet(scratch)
    rn = F.row_number().over(Window.partitionBy("__pid").orderBy("doc_id"))
    plan = formatted(staged.withColumn("__rn", rn).where(F.col("__rn") == 1).select("doc_id"))
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_merge_broadcast_path_no_target_shuffle(spark, tmp_path):
    """S4/J2: the merge broadcasts the batch's KEY SET, and the untouched
    target rows of the touched buckets flow scan -> anti join on that
    broadcast key set -> write with no exchange; only the semi-filtered
    (O(batch)) target rows reach the payload join's shuffle."""
    from mongo_bulk_data_migration_spark import Catalog
    from mongo_bulk_data_migration_spark.operators.merge import build_merge_plan
    from mongo_bulk_data_migration_spark.sources.fixtures import (
        SEQUENCES_SCHEMA,
        sequences_spark,
    )

    wh = str(tmp_path / "wh")
    cat = Catalog(wh)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    t.append(sequences_spark(spark, 50))
    src = (
        sequences_spark(spark, 10)
        .withColumn("__op", F.lit("put"))
    )
    plan = build_merge_plan(t, spark, src)
    try:
        # the physical plan with its exchanges, before AQE runs any stage
        root = plan.result._jdf.queryExecution().executedPlan().initialPlan()
        assert root.nodeName() == "Union"
        untouched, changed = root.children().apply(0), root.children().apply(1)

        def names(n, stop="BroadcastExchange"):
            out = [n.nodeName()]
            if out[0] != stop:  # the broadcast build side is the key set
                ch = n.children()
                for i in range(ch.size()):
                    out += names(ch.apply(i))
            return out

        u = names(untouched)
        assert "BroadcastHashJoin" in u and "BroadcastExchange" in u
        assert "Exchange" not in u and "Sort" not in u
        text = untouched.toString()
        assert "LeftAnti" in text and "__s_key" in text
        # the changed slice: the target is semi-filtered by the broadcast key
        # set before any exchange, then joined full-outer with the source
        text = changed.toString()
        assert "LeftSemi" in text and "FullOuter" in text
    finally:
        plan.release()


@pytest.fixture()
def no_auto_broadcast(spark):
    """Size-based broadcasting off: only the plan's own hint broadcasts."""
    k = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(k)
    spark.conf.set(k, "-1")
    yield
    spark.conf.set(k, saved)


def _broadcasts(df) -> bool:
    return "BroadcastHashJoin" in str(df._jdf.queryExecution().executedPlan().initialPlan())


def test_merge_key_set_broadcast_capped(spark, tmp_path, monkeypatch, no_auto_broadcast):
    """The key set is broadcast only while it holds at most
    BROADCAST_MAX_KEYS keys; past the cap (or with no known bound) the same
    semi/anti joins shuffle instead, with the same merged rows."""
    from mongo_bulk_data_migration_spark import Catalog
    from mongo_bulk_data_migration_spark.operators import merge
    from mongo_bulk_data_migration_spark.sources.fixtures import (
        SEQUENCES_SCHEMA,
        sequences_spark,
    )
    from test_merge import src_df

    wh = str(tmp_path / "wh")
    t = Catalog(wh).create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    t.append(sequences_spark(spark, 50))
    rows = [(f"doc{i:08d}", "update", [i], 1, None) for i in range(10)]
    src = src_df(spark, rows)
    merged = {}
    for cap in (10, 9):
        monkeypatch.setattr(merge, "BROADCAST_MAX_KEYS", cap)
        plan = merge.build_merge_plan(t, spark, src, update_cols=["tokens", "n_tok"])
        try:
            assert _broadcasts(plan.result) == (cap == 10)
            merged[cap] = sorted(map(tuple, plan.result.drop(merge.BUCKET_COL).collect()))
            assert plan.metrics()["n_modified"] == 10
        finally:
            plan.release()
    assert merged[10] == merged[9]
    # touched without a key bound: nothing says the key set is small
    monkeypatch.setattr(merge, "BROADCAST_MAX_KEYS", 10)
    plan = merge.build_merge_plan(t, spark, src, touched=[0, 1, 2, 3])
    assert not _broadcasts(plan.result)
    plan = merge.build_merge_plan(t, spark, src, touched=[0, 1, 2, 3], n_keys=10)
    assert _broadcasts(plan.result)


def test_rollback_key_broadcast_bounded_by_changelog_rows(
    spark, tmp_path, monkeypatch, no_auto_broadcast
):
    """rollback() bounds its key set by the changelog's manifest row count:
    a changelog above BROADCAST_MAX_KEYS rows restores through shuffled
    semi/anti joins, to the same rows."""
    from mongo_bulk_data_migration_spark import Catalog
    from mongo_bulk_data_migration_spark.operators import merge
    from mongo_bulk_data_migration_spark.plans import engine
    from mongo_bulk_data_migration_spark.sources.fixtures import (
        SEQUENCES_SCHEMA,
        changes_df,
        sequences_df,
    )
    from mongo_bulk_data_migration_spark.streaming.replay import ChangeStreamReplayer

    seen = []
    real = engine.run_merge

    def spy(table, plan, *a, **k):
        seen.append(_broadcasts(plan.result))
        return real(table, plan, *a, **k)

    monkeypatch.setattr(engine, "run_merge", spy)
    for cap in (10**6, 100):  # above / below the changelog's row count
        monkeypatch.setattr(merge, "BROADCAST_MAX_KEYS", cap)
        wh = str(tmp_path / f"wh{cap}")
        t = Catalog(wh).create_table("sequences", SEQUENCES_SCHEMA, num_buckets=8)
        t.append(sequences_df(spark, 300, parallelism=4))
        initial = sorted(map(tuple, t.read(spark).collect()))
        rep = ChangeStreamReplayer(spark, wh, "sequences", "cap", evolve_schema=False)
        rep.apply_changes(changes_df(spark, 300, 600, n_parts=4, parallelism=4),
                          events_per_batch=600)
        t.commit_marker({}, operation="foreign-touch")  # force the changelog path
        assert rep.engine._changelog(t).row_count() > 100
        res = rep.rollback()
        assert res["nMatched"] > 0
        assert sorted(map(tuple, t.read(spark).collect())) == initial
    assert seen == [True, False]


def test_rollback_with_rebucketed_target_discovers_buckets(spark, tmp_path):
    """A changelog whose bucket count differs from the target's (a target
    recreated with other buckets) cannot name the target buckets: rollback
    stages its source to find them, and restores the table."""
    from mongo_bulk_data_migration_spark import (
        Catalog,
        DataMigrationConfig,
        MongoBulkDataMigrationSpark,
    )
    from mongo_bulk_data_migration_spark.sources.fixtures import (
        SEQUENCES_SCHEMA,
        sequences_spark,
    )

    wh = str(tmp_path / "wh")
    cat = Catalog(wh)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    t.append(sequences_spark(spark, 40))
    initial = sorted(map(tuple, t.read(spark).collect()))
    cfg = DataMigrationConfig(warehouse=wh, collection_name="seq", id="rb",
                              update={"source": "X"}, query="doc_id < 'doc00000020'")
    m = MongoBulkDataMigrationSpark(spark, cfg)
    m.update()
    migrated = spark.createDataFrame(t.read(spark).collect(), SEQUENCES_SCHEMA)
    cat.drop_table("seq")
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=8)
    t.append(migrated)
    res = MongoBulkDataMigrationSpark(spark, cfg).rollback()
    assert res["nModified"] == 20
    assert sorted(map(tuple, t.read(spark).collect())) == initial


def test_mor_read_broadcasts_small_delta(spark, tmp_path):
    """MoR read contract (VERDICT r2 wart #4): with delta layers measuring
    under MOR_BROADCAST_BYTES, the shadowed-base anti join must broadcast
    the delta key set — never sort-merge-shuffle the (TB-scale at the design
    point) base buckets."""
    from mongo_bulk_data_migration_spark import Catalog
    from mongo_bulk_data_migration_spark.operators.merge import build_merge_plan, run_merge
    from mongo_bulk_data_migration_spark.sources.fixtures import (
        SEQUENCES_SCHEMA,
        sequences_spark,
    )
    from test_merge import src_df

    wh = str(tmp_path / "wh")
    cat = Catalog(wh)
    t = cat.create_table(
        "seq", SEQUENCES_SCHEMA, num_buckets=4, properties={"merge_mode": "mor"}
    )
    t.append(sequences_spark(spark, 40))
    plan = build_merge_plan(
        t,
        spark,
        src_df(spark, [("doc00000001", "update", [4], 1, None)]),
        update_cols=["tokens", "n_tok"],
    )
    run_merge(t, plan)
    plan.release()
    assert t.delta_layers() == 1

    text = formatted(t.read(spark))
    assert "BroadcastHashJoin" in text and "LeftAnti" in text
    assert "SortMergeJoin" not in text


import pytest


@pytest.mark.parametrize("dead_letter_mode", [False, True])
def test_replay_per_batch_job_count_bounded(spark, tmp_path, dead_letter_mode):
    """Serial-floor contract (round 3): the prestage path must keep the
    per-batch Spark job count bounded — each job carries fixed scheduling/
    planning cost that becomes the Amdahl serial term capping N->4N scaling.
    Budget: measured 52 jobs at local[4] for the 4 batches below (prestage
    jobs once per window + ~11-12 per batch), plus AQE headroom.  Round 4:
    dead-letter mode (B5) rides the same prestage path and must meet the
    SAME budget (its validity split is folded into the window-level collapse
    and lineage jobs, not paid per batch)."""
    from mongo_bulk_data_migration_spark import Catalog
    from mongo_bulk_data_migration_spark.plans.migration import MigrationOptions
    from mongo_bulk_data_migration_spark.sources.fixtures import (
        SEQUENCES_SCHEMA,
        changes_df,
        sequences_df,
    )
    from mongo_bulk_data_migration_spark.streaming.replay import ChangeStreamReplayer

    wh = str(tmp_path / "wh")
    cat = Catalog(wh)
    t = cat.create_table("sequences", SEQUENCES_SCHEMA, num_buckets=8)
    t.append(sequences_df(spark, 500, parallelism=4))
    events = changes_df(spark, 500, 2000, n_parts=4, parallelism=4)
    rep = ChangeStreamReplayer(
        spark, wh, "sequences", "jobcount", evolve_schema=False,
        options=MigrationOptions(continue_on_bulk_write_error=dead_letter_mode),
    )
    sc = spark.sparkContext
    group = f"floor-audit-{dead_letter_mode}"  # unique per param: the
    # status tracker accumulates job ids per group across the session
    sc.setJobGroup(group, "per-batch job count contract")
    try:
        ms = rep.apply_changes(events, events_per_batch=500)
    finally:
        sc.setJobGroup(None, None)
    assert len(ms) == 4
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    # measured 52; headroom for AQE stage variance
    assert n_jobs <= 58, f"per-batch job count regressed: {n_jobs} jobs for 4 batches"


def test_rollback_job_count_bounded(spark, tmp_path):
    """rollback() plans one restore merge over the changelog: the touched
    buckets come from the changelog manifest (no staging job) and the join
    is not materialized, so the whole call is one merge write's jobs."""
    from mongo_bulk_data_migration_spark import Catalog
    from mongo_bulk_data_migration_spark.sources.fixtures import (
        SEQUENCES_SCHEMA,
        changes_df,
        sequences_df,
    )
    from mongo_bulk_data_migration_spark.streaming.replay import ChangeStreamReplayer

    wh = str(tmp_path / "wh")
    cat = Catalog(wh)
    t = cat.create_table("sequences", SEQUENCES_SCHEMA, num_buckets=8)
    t.append(sequences_df(spark, 500, parallelism=4))
    rep = ChangeStreamReplayer(spark, wh, "sequences", "rbjobs", evolve_schema=False)
    rep.apply_changes(changes_df(spark, 500, 2000, n_parts=4, parallelism=4),
                      events_per_batch=1000)
    t.commit_marker({}, operation="foreign-touch")  # force the changelog path
    sc = spark.sparkContext
    sc.setJobGroup("rollback-audit", "rollback job count contract")
    try:
        res = rep.rollback()
    finally:
        sc.setJobGroup(None, None)
    assert res["nMatched"] > 0
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("rollback-audit"))
    # measured 7 at local[4]; 9 when rollback staged its source and
    # materialized the join; one job of headroom for AQE stage variance
    assert n_jobs <= 8, f"rollback job count regressed: {n_jobs} jobs"


def test_first_changelog_append_plans_no_log_join(spark, tmp_path, monkeypatch):
    """The first append finds no changelog rows in its buckets (manifest
    row counts): it skips the per-key log aggregation and join; later
    appends left-join the log flags."""
    from mongo_bulk_data_migration_spark import Catalog, LakeTable
    from mongo_bulk_data_migration_spark.operators.merge import build_merge_plan
    from mongo_bulk_data_migration_spark.plans.changelog import Changelog
    from mongo_bulk_data_migration_spark.sources.fixtures import (
        SEQUENCES_SCHEMA,
        sequences_spark,
    )

    cat = Catalog(str(tmp_path / "wh"))
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    t.append(sequences_spark(spark, 20))
    plans = []
    real_append = LakeTable.append

    def spy(self, df, *a, **k):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real_append(self, df, *a, **k)

    monkeypatch.setattr(LakeTable, "append", spy)
    src = sequences_spark(spark, 5).withColumn("__op", F.lit("update"))
    plan = build_merge_plan(t, spark, src)
    try:
        cl = Changelog(cat, "_rollback_seq_x", t, "x")
        assert cl.append_batch(spark, plan.preimage, 0, "{}", bucket_hint=plan.touched) == 5
        assert cl.append_batch(spark, plan.preimage, 1, "{}", bucket_hint=plan.touched) == 0
    finally:
        plan.release()
    first, second = plans
    assert "LeftOuter" not in first and "LeftOuter" in second
    # the second append also scans the changelog itself
    assert second.count("Relation [") == first.count("Relation [") + 1


def test_report_writer_preserves_manual_evidence(tmp_path):
    """BENCH report regeneration must keep everything below MANUAL_MARKER
    (a regeneration once dropped the official-run records)."""
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from scaling_bench import MANUAL_MARKER, write_report_md

    p = str(tmp_path / "r.md")
    write_report_md("# gen v1\n", p)
    assert open(p).read() == "# gen v1\n"
    with open(p, "a") as f:
        f.write("\n" + MANUAL_MARKER + "\ncurated evidence\n")
    write_report_md("# gen v2\n", p)
    out = open(p).read()
    assert out.startswith("# gen v2\n")
    assert MANUAL_MARKER in out and "curated evidence" in out
    # idempotent: regenerating again keeps exactly one manual section
    write_report_md("# gen v3\n", p)
    assert open(p).read().count(MANUAL_MARKER) == 1
