"""MERGE operator semantics: put/update/insert/delete × matched/unmatched,
under every join-selection regime, pre-image correctness.

The op matrix mirrors the reference's bulk surface: keyed update
(`MigrationBulk.ts:36`), delete (`MigrationBulk.ts:47-50`), insert-if-absent
(`BackupBulk.ts:17-26` / `RollbackBulk.ts:34-37`).
"""

import pytest
from pyspark.sql import functions as F

from mongo_bulk_data_migration_spark import Catalog
from mongo_bulk_data_migration_spark.operators import merge
from mongo_bulk_data_migration_spark.operators.merge import build_merge_plan, run_merge
from mongo_bulk_data_migration_spark.sources.fixtures import (
    CHANGES_SCHEMA,
    SEQUENCES_SCHEMA,
    sequences_spark,
)

from conftest import rows_of


def make_table(spark, warehouse, n=40, buckets=4):
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=buckets)
    t.append(sequences_spark(spark, n))
    return t


def src_df(spark, rows):
    schema = "doc_id string, __op string, tokens array<int>, n_tok int, source string"
    return spark.createDataFrame(rows, schema)


# Spark's physical choice for the plan's unhinted joins (the target x source
# full outer, the semi/anti filters) depends on session conf; the single
# merge plan must give the same rows and metrics under each regime.
JOIN_REGIMES = {
    # small sides broadcast freely; AQE turns the full outer into a
    # shuffled hash join
    "broadcast": {
        "spark.sql.autoBroadcastJoinThreshold": str(64 << 20),
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(64 << 20),
    },
    # the session default: only the plan's own key-set broadcast hint
    "semi": {},
    # static plan, no broadcast at all (the key set is also past the
    # plan's BROADCAST_MAX_KEYS cap): every join is a sort-merge over a
    # shuffle and AQE never re-plans a stage
    "shuffle": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.join.preferSortMergeJoin": "true",
        "spark.sql.adaptive.enabled": "false",
    },
}


@pytest.fixture(params=list(JOIN_REGIMES))
def join_regime(request, spark, monkeypatch):
    if request.param == "shuffle":
        monkeypatch.setattr(merge, "BROADCAST_MAX_KEYS", 0)
    saved = {k: spark.conf.get(k, None) for k in JOIN_REGIMES[request.param]}
    for k, v in JOIN_REGIMES[request.param].items():
        spark.conf.set(k, v)
    yield request.param
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_merge_op_matrix(spark, warehouse, join_regime):
    t = make_table(spark, warehouse + join_regime)
    before = {r["doc_id"]: r for r in rows_of(t.read(spark))}

    rows = [
        ("doc00000001", "put", [9, 9], 2, "put-matched"),       # replace row
        ("doc99999001", "put", [1], 1, "put-new"),              # insert
        ("doc00000002", "update", [7], 1, None),                # partial update
        ("doc99999002", "update", [7], 1, None),                # no-op (unmatched)
        ("doc00000003", "insert", [5], 1, "ins-matched"),       # keep old row
        ("doc99999003", "insert", [5], 1, "ins-new"),           # insert
        ("doc00000004", "delete", None, None, None),            # remove
        ("doc99999004", "delete", None, None, None),            # no-op
    ]
    plan = build_merge_plan(t, spark, src_df(spark, rows), update_cols=["tokens", "n_tok"])
    pre = rows_of(plan.preimage)
    run_merge(t, plan)
    m = plan.metrics()
    plan.release()

    after = {r["doc_id"]: r for r in rows_of(t.read(spark))}

    assert after["doc00000001"] == {
        "doc_id": "doc00000001", "tokens": [9, 9], "n_tok": 2, "source": "put-matched"
    }
    assert after["doc99999001"]["tokens"] == [1]
    # partial update: only update_cols replaced, source preserved
    assert after["doc00000002"]["tokens"] == [7]
    assert after["doc00000002"]["n_tok"] == 1
    assert after["doc00000002"]["source"] == before["doc00000002"]["source"]
    assert "doc99999002" not in after            # unmatched update: no-op
    assert after["doc00000003"] == before["doc00000003"]  # insert-if-absent keeps old
    assert after["doc99999003"]["source"] == "ins-new"
    assert "doc00000004" not in after            # deleted
    assert "doc99999004" not in after            # unmatched delete: no-op
    # every other row untouched
    untouched = set(before) - {r[0] for r in rows}
    for k in untouched:
        assert after[k] == before[k]

    # metrics
    assert m["n_matched"] == 4
    assert m["n_modified"] == 2
    assert m["n_removed"] == 1
    assert m["n_inserted"] == 2
    assert m["n_insert_skipped"] == 1

    # pre-images: one per source key, matched flag + old values
    pre_by_key = {p["doc_id"]: p for p in pre}
    assert len(pre_by_key) == 8
    assert pre_by_key["doc00000001"]["__matched"] is True
    assert pre_by_key["doc00000001"]["__pre_tokens"] == before["doc00000001"]["tokens"]
    assert pre_by_key["doc99999001"]["__matched"] is False
    assert pre_by_key["doc99999001"]["__pre_tokens"] is None


def test_merge_value_exprs_compute_from_target(spark, warehouse, join_regime):
    """Transforms evaluated inside the join: new value = f(target row, event)."""
    t = make_table(spark, warehouse + join_regime, n=20)
    before = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    rows = [("doc00000005", "update", None, None, None)]
    plan = build_merge_plan(
        t,
        spark,
        src_df(spark, rows),
        update_cols=["tokens", "n_tok"],
        value_exprs={
            "tokens": F.concat(F.col("tokens"), F.array(F.lit(50256).cast("int"))),
            "n_tok": (F.size("tokens") + 1).cast("int"),
        },
    )
    run_merge(t, plan)
    plan.release()
    after = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    assert after["doc00000005"]["tokens"] == before["doc00000005"]["tokens"] + [50256]
    assert after["doc00000005"]["n_tok"] == before["doc00000005"]["n_tok"] + 1


def test_merge_untouched_buckets_not_rewritten(spark, warehouse):
    """Copy-on-write: only touched buckets get new files (scale invariant)."""
    t = make_table(spark, warehouse, n=200, buckets=8)
    files_before = {f["path"] for f in t.snapshot().files}
    plan = build_merge_plan(
        t, spark, src_df(spark, [("doc00000001", "delete", None, None, None)])
    )
    run_merge(t, plan)
    plan.release()
    files_after = {f["path"] for f in t.snapshot().files}
    assert len(plan.touched) == 1
    carried = files_before & files_after
    # all buckets except the single touched one carried over by reference
    assert len(carried) >= len(files_before) - 2


def test_merge_on_read_op_matrix(spark, warehouse):
    """MoR mode: same op-matrix semantics as copy-on-write, but the commit
    appends one delta layer (no base rewrite); reads resolve last-wins;
    compact() folds layers back into base files."""
    cat = Catalog(warehouse)
    t = cat.create_table(
        "seq", SEQUENCES_SCHEMA, num_buckets=4, properties={"merge_mode": "mor"}
    )
    t.append(sequences_spark(spark, 40))
    base_files = [f for f in t.snapshot().files if f.get("kind", "base") == "base"]

    rows = [
        ("doc00000001", "put", [9, 9], 2, "put-matched"),
        ("doc99999001", "put", [1], 1, "put-new"),
        ("doc00000002", "update", [7], 1, None),
        ("doc99999002", "update", [7], 1, None),          # unmatched no-op
        ("doc00000003", "insert", [5], 1, "ins-matched"),  # keep old row
        ("doc99999003", "insert", [5], 1, "ins-new"),
        ("doc00000004", "delete", None, None, None),
        ("doc99999004", "delete", None, None, None),       # unmatched no-op
    ]
    plan = build_merge_plan(t, spark, src_df(spark, rows), update_cols=["tokens", "n_tok"])
    run_merge(t, plan)
    plan.release()

    snap = t.snapshot()
    assert [f for f in snap.files if f.get("kind", "base") == "base"] == base_files
    assert t.delta_layers() == 1

    after = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    assert after["doc00000001"]["tokens"] == [9, 9]
    assert after["doc99999001"]["tokens"] == [1]
    assert after["doc00000002"]["tokens"] == [7] and after["doc00000002"]["n_tok"] == 1
    assert "doc99999002" not in after
    assert after["doc00000003"]["tokens"] != [5]  # insert-if-absent kept old
    assert after["doc99999003"]["tokens"] == [5]
    assert "doc00000004" not in after
    assert "doc99999004" not in after

    # second layer over the first: later layer wins per key
    rows2 = [
        ("doc00000001", "update", [4], 1, None),
        ("doc99999003", "delete", None, None, None),
    ]
    plan2 = build_merge_plan(t, spark, src_df(spark, rows2), update_cols=["tokens", "n_tok"])
    run_merge(t, plan2)
    plan2.release()
    assert t.delta_layers() == 2
    after2 = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    assert after2["doc00000001"]["tokens"] == [4]
    assert "doc99999003" not in after2

    # time travel still sees the layer-1 state
    v1 = t.snapshot().parent
    at_v1 = {r["doc_id"]: r for r in rows_of(t.read(spark, version=v1))}
    assert at_v1["doc00000001"]["tokens"] == [9, 9] and "doc99999003" in at_v1

    # compaction folds deltas into base; contents identical
    before = sorted((r["doc_id"], tuple(r["tokens"] or [])) for r in rows_of(t.read(spark)))
    assert t.compact(spark) > 0
    assert t.delta_layers() == 0
    after_c = sorted((r["doc_id"], tuple(r["tokens"] or [])) for r in rows_of(t.read(spark)))
    assert after_c == before
