"""Snapshot time-travel rollback through foreign appends.

``rollback()`` restores the migration-start snapshot's files plus the files
of every foreign pure append since then, in one forward commit, when no
appended key is one the migration logged; anything else restores through
the changelog merge.  These tests pin the decision, the commit protocol
(forward, race-safe) and the reported path.
"""

import os

import pytest
from pyspark.sql import functions as F

from mongo_bulk_data_migration_spark import (
    Catalog,
    DataMigrationConfig,
    DELETE_OPERATION,
    LakeTable,
    MongoBulkDataMigrationSpark,
)
from mongo_bulk_data_migration_spark.plans.metrics import MetricsSink
from mongo_bulk_data_migration_spark.sources.fixtures import (
    SEQUENCES_SCHEMA,
    sequences_spark,
)

from conftest import rows_of


def seed(spark, warehouse, n=30):
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    t.append(sequences_spark(spark, n))
    return cat, t


def mig(spark, warehouse, **kw):
    cfg = DataMigrationConfig(warehouse=warehouse, collection_name="seq", id="m1", **kw)
    return MongoBulkDataMigrationSpark(spark, cfg)


def foreign_rows(spark, n=5, prefix="ext"):
    """``n`` rows whose keys the migration never saw."""
    return sequences_spark(spark, n).withColumn("doc_id", F.concat(F.lit(prefix), F.col("doc_id")))


def test_time_travel_cherry_picks_foreign_append(spark, warehouse):
    """A foreign append of new keys keeps the time-travel path: the restore
    is one forward commit holding the start files plus the appended ones."""
    cat, t = seed(spark, warehouse)
    initial = rows_of(t.read(spark))
    m = mig(spark, warehouse, update={"source": "Z"})
    m.update()
    migration_files = {
        f["path"] for v in t.history() for f in (t.delta_record(v) or {}).get("added", [])
        if (t.snapshot(v).properties.get("writer") == "m1")
    }
    assert migration_files
    t.append(foreign_rows(spark))
    appended = t.delta_record(t.current_version())["added"]
    head = t.current_version()

    res = m.rollback()
    (b,) = res["batches"]
    assert b["mode"] == "snapshot-time-travel"
    assert b["cherry_picked_files"] == len(appended)
    assert rows_of(t.read(spark)) == sorted(
        initial + rows_of(foreign_rows(spark)), key=lambda r: r["doc_id"]
    )
    # a forward commit: CURRENT grows, the rolled-back files are removed
    assert t.current_version() == b["version"] == head + 1
    snap = t.snapshot()
    assert snap.parent == head and snap.properties["writer"] == "m1"
    assert "migration_start_m1" not in snap.properties
    assert t.applied_marker("m1") is None
    removed = {f["path"] for f in t.delta_record(snap.version)["removed"]}
    assert migration_files <= removed
    assert {f["path"] for f in appended} <= {f["path"] for f in snap.files}
    # the metrics row names the path
    row = MetricsSink(warehouse, "m1").read_all()[-1]
    assert row["mode"] == "snapshot-time-travel" and row["cherry_picked_files"] == len(appended)


def test_foreign_reinsert_of_deleted_key_falls_back(spark, warehouse):
    """A foreign append re-creating a key the migration deleted is an
    appended key the changelog holds: time travel would duplicate it, so
    the changelog restore runs and keeps the foreign row."""
    cat, t = seed(spark, warehouse, n=20)
    initial = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    victims = sorted(initial)[:3]
    m = mig(spark, warehouse, update=DELETE_OPERATION,
            query=f"doc_id IN ({', '.join(repr(k) for k in victims)})")
    assert m.update()["nRemoved"] == 3
    recreated = spark.createDataFrame(
        [(victims[0], [7, 7], 2, "foreign")], SEQUENCES_SCHEMA
    )
    t.append(recreated)

    res = m.rollback()
    assert [(b["mode"], b["fallback"]) for b in res["batches"]] == [
        ("changelog", "appended-key-touched")
    ]
    got = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    assert len(rows_of(t.read(spark))) == len(initial)  # no duplicate key
    assert got[victims[0]]["source"] == "foreign"  # out-of-band re-creation kept
    for k in victims[1:]:
        assert got[k] == initial[k]  # the migration's deletes undone
    row = MetricsSink(warehouse, "m1").read_all()[-1]
    assert row["fallback"] == "appended-key-touched" and row["n_inserted"] == 2


def test_non_append_foreign_commit_falls_back(spark, warehouse):
    cat, t = seed(spark, warehouse)
    initial = rows_of(t.read(spark))
    m = mig(spark, warehouse, update={"source": "Z"})
    m.update()
    t.append(foreign_rows(spark))
    touch = t.commit_marker({}, operation="foreign-touch")
    res = m.rollback()
    (b,) = res["batches"]
    assert (b["mode"], b["fallback"], b["foreign_version"]) == ("changelog", "foreign-commit", touch)
    assert rows_of(t.read(spark)) == sorted(
        initial + rows_of(foreign_rows(spark)), key=lambda r: r["doc_id"]
    )


def test_expired_intermediate_snapshot_falls_back(spark, warehouse):
    cat, t = seed(spark, warehouse)
    initial = rows_of(t.read(spark))
    m = mig(spark, warehouse, update={"source": "Z"})
    m.update()
    mid = t.current_version()
    t.append(foreign_rows(spark))
    os.remove(t._snap_path(mid))  # as if expire_snapshots had dropped it
    res = m.rollback()
    assert [(b["mode"], b["fallback"]) for b in res["batches"]] == [
        ("changelog", "expired-snapshot")
    ]
    assert rows_of(t.read(spark)) == sorted(
        initial + rows_of(foreign_rows(spark)), key=lambda r: r["doc_id"]
    )


@pytest.mark.parametrize("racer", ["append", "foreign-update"])
def test_commit_landing_after_walk_is_kept(spark, warehouse, monkeypatch, racer):
    """A foreign commit that lands between the walk and the restore commit
    makes the restore commit fail; rollback decides again against the new
    head, and the late commit survives either way: an append is
    cherry-picked, anything else sends rollback down the changelog path."""
    from mongo_bulk_data_migration_spark.operators.merge import build_merge_plan, run_merge

    cat, t = seed(spark, warehouse)
    initial = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    untouched = sorted(initial)[-1]
    m = mig(spark, warehouse, update={"n_tok": F.lit(-1)}, query=f"doc_id < '{untouched}'")
    m.update()
    t.append(foreign_rows(spark, prefix="early"))
    real = LakeTable.rollback_to_snapshot
    calls = []

    def racing(self, *a, **k):
        if not calls:
            if racer == "append":
                LakeTable(self.root).append(foreign_rows(spark, prefix="late"))
            else:
                src = spark.createDataFrame(
                    [(untouched, "update", "OOB")], "doc_id string, __op string, source string"
                )
                plan = build_merge_plan(LakeTable(self.root), spark, src, update_cols=["source"])
                run_merge(LakeTable(self.root), plan, operation="foreign-update")
                plan.release()
        calls.append(k.get("head"))
        return real(self, *a, **k)

    monkeypatch.setattr(LakeTable, "rollback_to_snapshot", racing)
    res = m.rollback()
    (b,) = res["batches"]
    got = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    assert {k for k in got if k.startswith("early")} == {f"earlydoc{i:08d}" for i in range(5)}
    if racer == "append":
        assert b["mode"] == "snapshot-time-travel" and len(calls) == 2
        assert calls[1] == calls[0] + 1  # decided again against the new head
        assert {k for k in got if k.startswith("late")} == {f"latedoc{i:08d}" for i in range(5)}
        assert all(got[k] == r for k, r in initial.items())
    else:
        assert (b["mode"], b["fallback"]) == ("changelog", "foreign-commit")
        assert got[untouched]["source"] == "OOB"  # the late foreign update kept
        assert all(got[k] == r for k, r in initial.items() if k != untouched)


def test_time_travel_job_count_bounded(spark, tmp_path):
    """Time travel through a foreign append runs only the appended-key
    check: at most three Spark jobs for the whole rollback call."""
    from mongo_bulk_data_migration_spark.sources.fixtures import changes_df, sequences_df
    from mongo_bulk_data_migration_spark.streaming.replay import ChangeStreamReplayer

    wh = str(tmp_path / "wh")
    cat = Catalog(wh)
    t = cat.create_table("sequences", SEQUENCES_SCHEMA, num_buckets=8)
    t.append(sequences_df(spark, 500, parallelism=4))
    rep = ChangeStreamReplayer(spark, wh, "sequences", "ttjobs", evolve_schema=False)
    rep.apply_changes(changes_df(spark, 500, 2000, n_parts=4, parallelism=4),
                      events_per_batch=1000)
    t.append(foreign_rows(spark, 50))
    sc = spark.sparkContext
    sc.setJobGroup("time-travel-audit", "time-travel rollback job count contract")
    try:
        res = rep.rollback()
    finally:
        sc.setJobGroup(None, None)
    assert res["batches"][0]["mode"] == "snapshot-time-travel"
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("time-travel-audit"))
    assert n_jobs <= 3, f"time-travel rollback job count regressed: {n_jobs} jobs"
