"""B5: continue_on_bulk_write_error routes malformed events to a dead-letter
table and keeps going (`AbstractBulkOperationResults.ts:60-73`,
`update.test.ts:415-444`)."""

import os

import pytest
from pyspark.sql import functions as F

from mongo_bulk_data_migration_spark import Catalog, MigrationOptions
from mongo_bulk_data_migration_spark.sources.fixtures import (
    CHANGES_SCHEMA,
    SEQUENCES_SCHEMA,
    make_sequences,
)
from mongo_bulk_data_migration_spark.streaming.replay import ChangeStreamReplayer

from conftest import rows_of


def test_dead_letter_routing(spark, warehouse):
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    rows = make_sequences(5)
    t.append(spark.createDataFrame(rows, SEQUENCES_SCHEMA))

    ev = [
        dict(seq=0, part=0, op="update", doc_id="doc00000001", tokens=None,
             transform="append_eos", source=None, extra=None),            # valid
        dict(seq=1, part=0, op="update", doc_id="doc00000002", tokens=None,
             transform="explode_tokens:9", source=None, extra=None),      # bad DSL
        dict(seq=2, part=0, op="frobnicate", doc_id="doc00000003", tokens=None,
             transform=None, source=None, extra=None),                    # bad op
        dict(seq=3, part=0, op="insert", doc_id="doc99999999", tokens=None,
             transform=None, source=None, extra=None),                    # insert w/o payload
    ]
    rep = ChangeStreamReplayer(
        spark, warehouse, "seq", "dl1",
        options=MigrationOptions(continue_on_bulk_write_error=True),
    )
    ms = rep.apply_changes(spark.createDataFrame(ev, CHANGES_SCHEMA), events_per_batch=100)
    assert ms[0]["n_dead_lettered"] == 3

    got = {r["doc_id"]: r for r in rows_of(cat.load_table("seq").read(spark))}
    assert got["doc00000001"]["tokens"][-1] == 50256          # valid applied
    assert got["doc00000002"]["tokens"] == rows[2]["tokens"]  # bad skipped
    assert "doc99999999" not in got

    # round 4: one __batch-partitioned table for the whole window (written
    # once by the prestage, dynamic-partition-overwritten on replay)
    dl = os.path.join(warehouse, "_state", "deadletter_dl1")
    dead = spark.read.parquet(dl).where("__batch = 0")
    assert dead.count() == 3
    assert set(dead.select("doc_id").toPandas()["doc_id"]) == {
        "doc00000002", "doc00000003", "doc99999999"
    }


def test_delete_events_survive_continue_on_error(spark, warehouse):
    """r3 regression (caught by the dead_letter driver oracle): a delete
    event carries NULL transform/tokens, and non-null-safe equality in the
    validity predicate made it satisfy neither where(valid) nor
    where(~valid) — silently dropped instead of applied."""
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    t.append(spark.createDataFrame(make_sequences(5), SEQUENCES_SCHEMA))
    ev = [
        dict(seq=0, part=0, op="delete", doc_id="doc00000002", tokens=None,
             transform=None, source=None, extra=None),          # valid delete
        dict(seq=1, part=0, op="bogus", doc_id="doc00000003", tokens=None,
             transform=None, source=None, extra=None),          # dead-lettered
    ]
    rep = ChangeStreamReplayer(
        spark, warehouse, "seq", "dl0",
        options=MigrationOptions(continue_on_bulk_write_error=True),
    )
    ms = rep.apply_changes(spark.createDataFrame(ev, CHANGES_SCHEMA), events_per_batch=10)
    assert ms[0]["n_dead_lettered"] == 1
    got = {r["doc_id"] for r in rows_of(cat.load_table("seq").read(spark))}
    assert "doc00000002" not in got  # the delete APPLIED
    assert len(got) == 4


def test_all_dead_batch_advances_hwm_no_livelock(spark, warehouse):
    """ADVICE r2 regression: a batch whose events are ALL dead-lettered must
    still advance the HWM — otherwise every later run re-filters and
    re-dead-letters the same events forever (silent livelock)."""
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    t.append(spark.createDataFrame(make_sequences(3), SEQUENCES_SCHEMA))
    ev = [
        dict(seq=0, part=0, op="frobnicate", doc_id="doc00000001", tokens=None,
             transform=None, source=None, extra=None),
        dict(seq=1, part=1, op="insert", doc_id="docX", tokens=None,
             transform=None, source=None, extra=None),
    ]
    opts = MigrationOptions(continue_on_bulk_write_error=True)
    edf = spark.createDataFrame(ev, CHANGES_SCHEMA)
    rep = ChangeStreamReplayer(spark, warehouse, "seq", "dl3", options=opts)
    ms = rep.apply_changes(edf, events_per_batch=100)
    assert len(ms) == 1
    assert ms[0]["n_dead_lettered"] == 2 and ms[0]["n_backups"] == 0
    assert ms[0]["part_hwm"] == {0: 0, 1: 1}

    # fresh replayer, same migration id: the HWM filter drops the whole
    # stream — no second dead-letter pass, no metrics row
    rep2 = ChangeStreamReplayer(spark, warehouse, "seq", "dl3", options=opts)
    assert rep2.apply_changes(edf, events_per_batch=100) == []


def test_without_flag_malformed_is_noop_not_routed(spark, warehouse):
    """Default: unknown transforms fall through as no-ops (reference aborts
    the bulk; our batch commit is atomic so the analog is strict mode off)."""
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    t.append(spark.createDataFrame(make_sequences(3), SEQUENCES_SCHEMA))
    ev = [dict(seq=0, part=0, op="update", doc_id="doc00000001", tokens=None,
               transform="bogus:1", source=None, extra=None)]
    rep = ChangeStreamReplayer(spark, warehouse, "seq", "dl2")
    ms = rep.apply_changes(spark.createDataFrame(ev, CHANGES_SCHEMA), events_per_batch=10)
    assert ms[0]["n_dead_lettered"] == 0
    assert not os.path.exists(os.path.join(warehouse, "_state", "deadletter_dl2"))


def test_runtime_failing_dsl_args_are_dead_lettered(spark, warehouse):
    """DSL args the grammar admits but the transform cannot take —
    ``remap_mod:0`` (division by zero) and an arg above 2^31-1 (int
    overflow) — used to pass the validity check and then fail the whole
    batch under ANSI mode.  They are dead-lettered; the batch's valid
    events still apply."""
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    rows = make_sequences(5)
    t.append(spark.createDataFrame(rows, SEQUENCES_SCHEMA))
    ev = [
        dict(seq=0, part=0, op="update", doc_id="doc00000001", tokens=None,
             transform="remap_mod:0", source=None, extra=None),            # div by 0
        dict(seq=1, part=0, op="update", doc_id="doc00000002", tokens=None,
             transform="truncate:2147483648", source=None, extra=None),    # > int32
        dict(seq=2, part=0, op="update", doc_id="doc00000003", tokens=None,
             transform="remap_mod:7", source=None, extra=None),            # valid
        dict(seq=3, part=0, op="update", doc_id="doc00000004", tokens=None,
             transform="append_eos", source=None, extra=None),             # valid
    ]
    rep = ChangeStreamReplayer(
        spark, warehouse, "seq", "dl4",
        options=MigrationOptions(continue_on_bulk_write_error=True),
    )
    ms = rep.apply_changes(spark.createDataFrame(ev, CHANGES_SCHEMA), events_per_batch=100)
    assert ms[0]["n_dead_lettered"] == 2

    got = {r["doc_id"]: r for r in rows_of(cat.load_table("seq").read(spark))}
    assert got["doc00000001"]["tokens"] == rows[1]["tokens"]
    assert got["doc00000002"]["tokens"] == rows[2]["tokens"]
    assert got["doc00000003"]["tokens"] == [x % 7 for x in rows[3]["tokens"]]
    assert got["doc00000004"]["tokens"] == rows[4]["tokens"] + [50256]
    dl = os.path.join(warehouse, "_state", "deadletter_dl4")
    dead = spark.read.parquet(dl).where("__batch = 0")
    assert set(dead.select("doc_id").toPandas()["doc_id"]) == {"doc00000001", "doc00000002"}
