"""Merge metrics (nMatched / nModified / nRemoved / nInserted) of every
caller — replayer, ``update()`` and ``rollback()`` — on a mixed fixture and
on pure-delete batches, where AQE's empty-relation propagation empties the
merge branch and must not blank the counts."""

from mongo_bulk_data_migration_spark import (
    Catalog,
    DataMigrationConfig,
    DELETE_OPERATION,
    MongoBulkDataMigrationSpark,
)
from mongo_bulk_data_migration_spark.sources.fixtures import (
    SEQUENCES_SCHEMA,
    changes_spark,
    sequences_spark,
)
from mongo_bulk_data_migration_spark.streaming.replay import ChangeStreamReplayer

KEYS = ("nMatched", "nModified", "nRemoved", "nInserted")


def seed(spark, warehouse, n=40):
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    t.append(sequences_spark(spark, n))
    return t


def ev(seq, op, doc, tokens=None, transform=None, source=None):
    return {"seq": seq, "part": seq % 2, "op": op, "doc_id": doc, "tokens": tokens,
            "transform": transform, "source": source, "extra": None}


def counts(batches):
    m = {"nMatched": 0, "nModified": 0, "nRemoved": 0, "nInserted": 0}
    for b in batches:
        m["nMatched"] += b.get("n_matched", 0)
        m["nModified"] += b.get("n_modified", 0)
        m["nRemoved"] += b.get("n_removed", 0)
        m["nInserted"] += b.get("n_inserted", 0)
    return m


def test_replay_and_rollback_metrics(spark, warehouse):
    t = seed(spark, warehouse)
    events = [
        # batch 0: mixed
        ev(0, "insert", "doc99000001", [1, 2]),                   # unmatched put
        ev(1, "insert", "doc00000001", [3]),                      # matched put
        ev(2, "update", "doc00000002", transform="append_eos"),   # matched update
        ev(3, "update", "doc99000002", transform="append_eos"),   # unmatched: no-op
        ev(4, "delete", "doc00000003"),                           # matched delete
        ev(5, "delete", "doc99000003"),                           # unmatched: no-op
        ev(6, "update", "doc00000004", source="s"),               # matched update
        # batch 1: pure delete
        ev(10, "delete", "doc00000005"),
        ev(11, "delete", "doc00000006"),
        ev(12, "delete", "doc99000009"),
    ]
    rep = ChangeStreamReplayer(spark, warehouse, "seq", "mx", evolve_schema=False)
    ms = rep.apply_changes(changes_spark(spark, events), events_per_batch=10)
    assert [m["batch_id"] for m in ms] == [0, 1]
    assert counts(ms[:1]) == {"nMatched": 4, "nModified": 3, "nRemoved": 1, "nInserted": 1}
    assert counts(ms[1:]) == {"nMatched": 2, "nModified": 0, "nRemoved": 2, "nInserted": 0}

    t.commit_marker({}, operation="foreign-touch")  # force the changelog path
    res = rep.rollback()
    # delete the inserted key; restore the put/updated rows; re-insert the
    # three deleted ones
    assert {k: res[k] for k in KEYS} == {
        "nMatched": 4, "nModified": 3, "nRemoved": 1, "nInserted": 3
    }


def test_rollback_of_inserts_is_a_pure_delete(spark, warehouse):
    t = seed(spark, warehouse)
    events = [ev(i, "insert", f"doc9900000{i}", [i]) for i in range(5)]
    rep = ChangeStreamReplayer(spark, warehouse, "seq", "ins", evolve_schema=False)
    ms = rep.apply_changes(changes_spark(spark, events), events_per_batch=10)
    assert counts(ms) == {"nMatched": 0, "nModified": 0, "nRemoved": 0, "nInserted": 5}
    t.commit_marker({}, operation="foreign-touch")
    res = rep.rollback()
    assert {k: res[k] for k in KEYS} == {
        "nMatched": 5, "nModified": 0, "nRemoved": 5, "nInserted": 0
    }


def _mig(spark, warehouse, mid, update):
    return MongoBulkDataMigrationSpark(spark, DataMigrationConfig(
        warehouse=warehouse, collection_name="seq", id=mid, update=update,
        query="doc_id < 'doc00000010'",
    ))


def test_update_and_rollback_metrics(spark, warehouse):
    t = seed(spark, warehouse)
    m = _mig(spark, warehouse, "upd", {"source": "X"})
    res = m.update()
    assert {k: res[k] for k in KEYS} == {
        "nMatched": 10, "nModified": 10, "nRemoved": 0, "nInserted": 0
    }
    t.commit_marker({}, operation="foreign-touch")
    res = m.rollback()
    assert {k: res[k] for k in KEYS} == {
        "nMatched": 10, "nModified": 10, "nRemoved": 0, "nInserted": 0
    }

    d = _mig(spark, warehouse, "del", DELETE_OPERATION)
    res = d.update()  # pure-delete batch
    assert {k: res[k] for k in KEYS} == {
        "nMatched": 10, "nModified": 0, "nRemoved": 10, "nInserted": 0
    }
    t.commit_marker({}, operation="foreign-touch")
    res = d.rollback()  # re-inserts every deleted row
    assert {k: res[k] for k in KEYS} == {
        "nMatched": 0, "nModified": 0, "nRemoved": 0, "nInserted": 10
    }
