"""Migration engine: update()/rollback()/clean() — the reference contract.

Each test mirrors a reference behavior test (cited inline).
"""

import pytest
from pyspark.sql import functions as F

from mongo_bulk_data_migration_spark import (
    Catalog,
    DataMigrationConfig,
    MigrationOptions,
    MongoBulkDataMigrationSpark,
    DELETE_COLLECTION,
    DELETE_OPERATION,
    FETCH_ALL,
)
from mongo_bulk_data_migration_spark.sources.fixtures import (
    SEQUENCES_SCHEMA,
    sequences_spark,
)

from conftest import rows_of


def seed(spark, warehouse, n=30, buckets=4):
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=buckets)
    t.append(sequences_spark(spark, n))
    return cat, t


def mig(spark, warehouse, **kw):
    opts = kw.pop("options", MigrationOptions())
    cfg = DataMigrationConfig(
        warehouse=warehouse, collection_name="seq", id=kw.pop("id", "m1"), options=opts, **kw
    )
    return MongoBulkDataMigrationSpark(spark, cfg)


def test_update_set_and_rollback_roundtrip(spark, warehouse):
    """$set + automatic rollback restores initial state; second rollback is a
    no-op (doRollbackAndAssertForInitialState.ts:31-54)."""
    cat, t = seed(spark, warehouse)
    initial = rows_of(t.read(spark))

    m = mig(spark, warehouse, update={"source": "MIGRATED"}, query="n_tok > 0")
    res = m.update()
    assert res["nModified"] == len(initial)
    assert res["nBackups"] == len(initial)
    assert {r["source"] for r in rows_of(t.read(spark))} == {"MIGRATED"}

    res2 = m.rollback()
    assert rows_of(t.read(spark)) == initial
    # second rollback: changelog gone -> warn + no-op, zero writes
    res3 = m.rollback()
    assert res3["nModified"] == 0 and res3["nMatched"] == 0


def test_update_with_query_predicate(spark, warehouse):
    """P3: only matching rows fetched/updated/backed up (update.test.ts:680)."""
    cat, t = seed(spark, warehouse)
    n_web = t.read(spark).where("source = 'web'").count()
    m = mig(spark, warehouse, update={"source": "X"}, query=F.col("source") == "web")
    res = m.update()
    assert res["nModified"] == n_web
    assert t.read(spark).where("source = 'X'").count() == n_web


def test_update_transform_dsl(spark, warehouse):
    cat, t = seed(spark, warehouse, n=10)
    before = rows_of(t.read(spark))
    m = mig(spark, warehouse, update=("transform", "truncate:3"))
    m.update()
    after = rows_of(t.read(spark))
    for b, a in zip(before, after):
        assert a["tokens"] == b["tokens"][:3]
        assert a["n_tok"] == len(a["tokens"])
    m.rollback()
    assert rows_of(t.read(spark)) == before


def test_delete_operation_and_rollback_reinserts(spark, warehouse):
    """M3 DELETE_OPERATION + delete-rollback re-inserts
    (update.test.ts:675-695, rollback.test.ts:238-266)."""
    cat, t = seed(spark, warehouse)
    initial = rows_of(t.read(spark))
    m = mig(spark, warehouse, update=DELETE_OPERATION, query="source = 'code'")
    res = m.update()
    assert res["nRemoved"] > 0
    assert t.read(spark).where("source = 'code'").count() == 0
    m.rollback()
    assert rows_of(t.read(spark)) == initial


def test_no_resurrect_out_of_band_delete(spark, warehouse):
    """Update-rollback must NOT restore a doc deleted out-of-band between
    update and rollback (rollback.test.ts:93-108)."""
    cat, t = seed(spark, warehouse)
    m = mig(spark, warehouse, update={"source": "Y"})
    m.update()
    # out-of-band delete of one doc (foreign writer)
    from mongo_bulk_data_migration_spark.operators.merge import build_merge_plan, run_merge

    plan = build_merge_plan(
        t, spark, spark.createDataFrame([("doc00000003", "delete")], "doc_id string, __op string")
    )
    run_merge(t, plan, operation="foreign-delete")
    plan.release()

    m.rollback()
    got = rows_of(t.read(spark))
    assert "doc00000003" not in {r["doc_id"] for r in got}


def test_projection_scoped_restore(spark, warehouse):
    """Out-of-band change to a non-backed-up column survives rollback
    (rollback.test.ts:110-160,641-666)."""
    cat, t = seed(spark, warehouse)
    m = mig(spark, warehouse, update={"tokens": F.array(F.lit(1))}, projection=["tokens", "n_tok"])
    m.update()
    # out-of-band foreign update to `source` (not in the projection/backup)
    from mongo_bulk_data_migration_spark.operators.merge import build_merge_plan, run_merge

    foreign = (
        t.read(spark)
        .where("doc_id = 'doc00000002'")
        .select("doc_id", F.lit("update").alias("__op"), F.lit("OOB").alias("source"))
    )
    plan = build_merge_plan(t, spark, foreign, update_cols=["source"])
    run_merge(t, plan, operation="foreign-update")
    plan.release()

    m.rollback()
    row = rows_of(t.read(spark).where("doc_id = 'doc00000002'"))[0]
    assert row["source"] == "OOB"  # in-between value preserved
    assert row["tokens"] == rows_of(sequences_spark(spark, 3))[2]["tokens"]  # restored


def test_fetch_all_resume_skips_migrated(spark, warehouse):
    """R1: FETCH_ALL resolves to key > last backed-up key
    (MBDM.ts:326-341; update.test.ts:596-673)."""
    cat, t = seed(spark, warehouse, n=20)
    m = mig(
        spark, warehouse, update={"source": "A"}, query=FETCH_ALL,
        options=MigrationOptions(dont_count=True),
    )
    res1 = m.update()
    assert res1["nModified"] == 20
    # re-run: everything already backed up -> only keys above HWM match (none)
    res2 = m.update()
    assert res2["nModified"] == 0


def test_skip_unchanged_no_update(spark, warehouse):
    """P4 NO_UPDATE: rows whose update is a no-op contribute nothing
    (update.test.ts:463-526)."""
    cat, t = seed(spark, warehouse)
    n_web = t.read(spark).where("source = 'web'").count()
    total = t.read(spark).count()
    m = mig(
        spark, warehouse,
        update={"source": "web"},  # only non-web rows actually change
        options=MigrationOptions(skip_unchanged=True),
    )
    res = m.update()
    assert res["nModified"] == total - n_web
    assert res["nBackups"] == total - n_web


def test_delete_collection_swap_and_rollback(spark, warehouse):
    """S7 DELETE_COLLECTION: rename main->backup; rollback renames back;
    second run returns ok:0 (MongoBulkDataMigration.test.ts:109-175)."""
    cat, t = seed(spark, warehouse)
    initial = rows_of(t.read(spark))
    m = mig(spark, warehouse, update=DELETE_COLLECTION)
    assert m.update()["ok"] == 1
    assert not cat.exists("seq")
    assert m.update()["ok"] == 0  # second run: source gone
    assert m.rollback()["ok"] == 1
    assert rows_of(cat.load_table("seq").read(spark)) == initial
    assert m.rollback()["ok"] == 0


def test_snapshot_fast_path_rollback(spark, warehouse):
    """Whole-table time travel when no foreign writes interleaved."""
    cat, t = seed(spark, warehouse)
    initial = rows_of(t.read(spark))
    m = mig(spark, warehouse, update={"source": "Z"})
    m.update()
    res = m.rollback()
    assert any(b.get("mode") == "snapshot-time-travel" for b in res["batches"])
    assert rows_of(cat.load_table("seq").read(spark)) == initial


def test_clean_tolerates_absence(spark, warehouse):
    cat, t = seed(spark, warehouse, n=5)
    m = mig(spark, warehouse, update={"source": "Q"})
    assert m.clean()["dropped"] is False
    m.update()
    assert m.clean()["dropped"] is True
    assert m.clean()["dropped"] is False


def test_validation_rejects_incompatible_types(spark, warehouse):
    """Collection-validator analog: wrong-typed $set is rejected unless
    bypass_validation (MBDM.ts:425-449; update.test.ts:355-413)."""
    import pytest as _pytest
    cat, t = seed(spark, warehouse, n=5)
    m = mig(spark, warehouse, update={"tokens": "not-an-array"})
    with _pytest.raises(TypeError, match="tokens"):
        m.update()
    # mistyped-but-castable: strict rejects, bypass casts (validator off)
    m2 = mig(spark, warehouse, id="m2", update={"tokens": F.array(F.lit("7"))})
    with _pytest.raises(TypeError, match="tokens"):
        m2.update()
    m3 = mig(
        spark, warehouse, id="m3", update={"tokens": F.array(F.lit("7"))},
        options=MigrationOptions(bypass_validation=True),
    )
    res = m3.update()
    assert res["nModified"] == 5
    assert t.read(spark).where("tokens = array(7)").count() == 5


def test_fetch_all_reprocesses_crashed_batch_keys(spark, warehouse):
    """Crash window between changelog commit and merge commit: the backed-up
    but unmerged keys must be RE-fetched by FETCH_ALL (resume HWM = max key
    of MERGED batches only), not skipped with their updates dropped."""
    from mongo_bulk_data_migration_spark.plans.changelog import Changelog

    cat, t = seed(spark, warehouse, n=10)
    initial = rows_of(t.read(spark))
    # simulate the crashed run: backups for the first 4 keys committed,
    # merge never committed (no applied marker on the target)
    cl = Changelog(cat, "_rollback_seq_m1", t, "m1")
    crashed = [r for r in initial[:4]]
    pre = spark.createDataFrame(
        [(r["doc_id"], "update", True, r["tokens"], r["n_tok"], r["source"]) for r in crashed],
        "doc_id string, __op string, __matched boolean, __pre_tokens array<int>, "
        "__pre_n_tok int, __pre_source string",
    )
    assert cl.append_batch(spark, pre, 0, "{}") == 4
    assert t.applied_marker("m1") is None

    m = mig(spark, warehouse, update={"source": "A"}, query=FETCH_ALL,
            options=MigrationOptions(dont_count=True))
    res = m.update()
    assert res["nModified"] == 10  # crashed keys re-processed, not dropped
    assert {r["source"] for r in rows_of(t.read(spark))} == {"A"}
    # their backups stayed first-write-wins (4 old + 6 new)
    assert res["nBackups"] == 6

    m.rollback()
    assert rows_of(cat.load_table("seq").read(spark)) == initial


def test_fetch_all_resumes_after_merge_commit_crash(spark, warehouse, tmp_path, monkeypatch):
    """The real-crash twin of the test above: the merge commit of batch 1 of
    3 fails after that batch's changelog append committed.  A FETCH_ALL
    re-run ends in the uninterrupted run's state — no key skipped, none
    transformed twice (``append_eos`` is not idempotent) — and rollback
    restores the initial rows."""
    from mongo_bulk_data_migration_spark.plans import engine as engine_mod

    def migration(wh):
        return mig(spark, wh, update=("transform", "append_eos"), query=FETCH_ALL,
                   options=MigrationOptions(max_bulk_size=10))

    ref_wh = str(tmp_path / "ref")
    _, t_ref = seed(spark, ref_wh, n=30)
    assert len(migration(ref_wh).update()["batches"]) == 3
    want = rows_of(t_ref.read(spark))

    cat, t = seed(spark, warehouse, n=30)
    initial = rows_of(t.read(spark))
    real_commit = engine_mod.commit_merge
    crashed = []

    def commit_fails_once(table, plan, pending, applied=None, **kw):
        if not crashed and applied["m1"]["batch_id"] == 1:
            crashed.append(1)
            raise RuntimeError("crash before the merge commit of batch 1")
        return real_commit(table, plan, pending, applied=applied, **kw)

    monkeypatch.setattr(engine_mod, "commit_merge", commit_fails_once)
    m = migration(warehouse)
    with pytest.raises(RuntimeError, match="crash before the merge commit"):
        m.update()
    assert t.applied_marker("m1")["batch_id"] == 0
    res = m.update()  # resume: batch 1's keys are re-fetched, batch 0's are not
    assert res["nModified"] == 20
    assert rows_of(t.read(spark)) == want
    m.rollback()
    assert rows_of(cat.load_table("seq").read(spark)) == initial


def test_max_bulk_size_batch_split(spark, warehouse):
    """B1: maxBulkSize chunks the update into key-ordered micro-commits —
    the reference's [30,30,30,10] split (MBDM.ts:25,160-201;
    update.test.ts:228-277) — and rollback still restores everything."""
    cat, t = seed(spark, warehouse, n=100)
    initial = rows_of(t.read(spark))
    m = mig(spark, warehouse, update={"source": "B"},
            options=MigrationOptions(max_bulk_size=30))
    res = m.update()
    assert [b["n_matched"] for b in res["batches"]] == [30, 30, 30, 10]
    assert res["nModified"] == 100 and res["nBackups"] == 100
    assert {r["source"] for r in rows_of(t.read(spark))} == {"B"}
    # four data commits -> four batch markers folded into one applied entry
    assert t.applied_marker("m1")["batch_id"] == 3
    m.rollback()
    assert rows_of(cat.load_table("seq").read(spark)) == initial


def test_max_bulk_size_single_batch_when_under(spark, warehouse):
    cat, t = seed(spark, warehouse, n=10)
    m = mig(spark, warehouse, update={"source": "B"},
            options=MigrationOptions(max_bulk_size=30))
    res = m.update()
    assert len(res["batches"]) == 1 and res["nModified"] == 10


def test_pipeline_source_update(spark, warehouse):
    """S2: an aggregation-pipeline source feeds virtual fields into the
    update; pipeline outputs ARE the fetched doc (MBDM.ts:225-230;
    update.test.ts:279-353)."""
    cat, t = seed(spark, warehouse, n=12)
    initial = rows_of(t.read(spark))

    def pipe(df):
        return df.withColumn("tagged", F.concat(F.col("source"), F.lit("+pipe")))

    m = mig(spark, warehouse, pipeline=pipe,
            update=lambda df: df.withColumn("source", F.col("tagged")).drop("tagged"))
    res = m.update()
    assert res["nModified"] == 12 and res["batches"][0]["total_entries"] == 12
    assert all(r["source"].endswith("+pipe") for r in rows_of(t.read(spark)))
    m.rollback()
    assert rows_of(cat.load_table("seq").read(spark)) == initial


def test_pipeline_count_empty_is_zero(spark, warehouse):
    """A2: $count over a pipeline source; an empty pipeline cursor counts 0
    and writes nothing (MBDM.ts:252-259; update.test.ts:337-352)."""
    cat, t = seed(spark, warehouse, n=8)
    before = rows_of(t.read(spark))
    m = mig(spark, warehouse, pipeline=lambda df: df.where(F.lit(False)),
            update={"source": "X"})
    res = m.update()
    assert res["batches"][0]["total_entries"] == 0
    assert res["nModified"] == 0 and res["nBackups"] == 0
    assert rows_of(t.read(spark)) == before


def test_projection_backup_filter_scopes_backup(spark, warehouse):
    """P2: projectionBackupFilter backs up a SUBSET of the projection;
    rollback restores only that subset (rollback.test.ts:139-160)."""
    cat, t = seed(spark, warehouse, n=10)
    initial = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    m = mig(
        spark, warehouse,
        projection=["tokens", "n_tok", "source"],
        update={"source": "P2", "tokens": F.array(F.lit(1)), "n_tok": F.lit(1)},
        options=MigrationOptions(projection_backup_filter=["source"]),
    )
    m.update()
    t.commit_marker({}, operation="foreign-touch")  # force changelog path
    m.rollback()
    got = {r["doc_id"]: r for r in rows_of(cat.load_table("seq").read(spark))}
    for k, r in got.items():
        assert r["source"] == initial[k]["source"]  # backed up -> restored
        assert r["tokens"] == [1] and r["n_tok"] == 1  # NOT backed up -> kept


def test_projection_backup_filter_scopes_backup_without_foreign_commit(spark, warehouse):
    """P2 with no foreign commit since migration start: time travel would
    restore the columns the narrowed backup left out, so rollback takes the
    changelog path and restores only the backed-up subset."""
    cat, t = seed(spark, warehouse, n=10)
    initial = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    m = mig(
        spark, warehouse,
        projection=["tokens", "n_tok", "source"],
        update={"source": "P2", "tokens": F.array(F.lit(1)), "n_tok": F.lit(1)},
        options=MigrationOptions(projection_backup_filter=["source"]),
    )
    m.update()
    res = m.rollback()
    got = {r["doc_id"]: r for r in rows_of(cat.load_table("seq").read(spark))}
    for k, r in got.items():
        assert r["source"] == initial[k]["source"]  # backed up -> restored
        assert r["tokens"] == [1] and r["n_tok"] == 1  # NOT backed up -> kept
    assert [(b["mode"], b.get("fallback")) for b in res["batches"]] == [
        ("changelog", "narrowed-backup")
    ]


def test_custom_rollback_callback(spark, warehouse):
    """M6: config.rollback rewrites the restore source
    (rollback.test.ts:932-972, 1082-1105)."""
    cat, t = seed(spark, warehouse, n=6)
    m = mig(
        spark, warehouse, update={"source": "MIG"},
        rollback=lambda src: src.withColumn("source", F.concat(F.col("source"), F.lit("-rb"))),
    )
    m.update()
    t.commit_marker({}, operation="foreign-touch")  # force changelog path
    m.rollback()
    for r in rows_of(cat.load_table("seq").read(spark)):
        assert r["source"].endswith("-rb") and r["source"] != "MIG-rb"


def test_unset_spec_and_rollback(spark, warehouse):
    """M2: {"$unset": [cols]} writes typed NULLs; rollback restores the
    pre-image values (rollback.test.ts:378-475)."""
    cat, t = seed(spark, warehouse, n=10)
    initial = rows_of(t.read(spark))
    m = mig(spark, warehouse, update={"$unset": ["source"], "n_tok": F.lit(0)})
    res = m.update()
    assert res["nModified"] == 10
    got = rows_of(t.read(spark))
    assert all(r["source"] is None and r["n_tok"] == 0 for r in got)
    m.rollback()
    assert rows_of(cat.load_table("seq").read(spark)) == initial


def test_no_update_row_skip_in_callback(spark, warehouse):
    """P4: rows flagged __no_update by the update callback are neither
    written nor backed up (MBDM.ts:284-286)."""
    cat, t = seed(spark, warehouse, n=10)
    m = mig(
        spark, warehouse,
        update=lambda df: df.withColumn("source", F.lit("U")).withColumn(
            "__no_update", F.col("n_tok") % 2 == 0
        ),
    )
    res = m.update()
    skipped = sum(1 for r in rows_of(t.read(spark)) if r["source"] != "U")
    assert res["nModified"] + skipped == 10
    assert res["nBackups"] == res["nModified"] < 10


def test_shipped_rollback_assert_utility(spark, warehouse):
    """The shipped testutils helper (the reference's
    doRollbackAndAssertForInitialState analog) — self-test, as the reference
    self-tests its own utility."""
    from mongo_bulk_data_migration_spark.testutils import (
        do_rollback_and_assert_initial_state,
        rows_sorted,
    )

    cat, t = seed(spark, warehouse, n=15)
    initial = rows_sorted(t.read(spark))
    m = mig(spark, warehouse, update={"source": "UTIL"})
    m.update()
    do_rollback_and_assert_initial_state(m, spark, initial)


NESTED_SCHEMA = (
    "doc_id string, "
    "meta struct<owner: string, ver: int>, "
    "keys array<struct<subKey1: string, subKey2: array<struct<elt1: int, elt2: string>>>>"
)


def _nested_rows(n=12):
    rows = []
    for i in range(n):
        keys = []
        for j in range(i % 3 + 1):
            sub = [
                {"elt1": 55 + 45 * j + 50 * k, "elt2": f"e{k}"}
                for k in range((i + j) % 2 + 1)
            ]
            keys.append(
                {"subKey1": "match_me" if j % 3 == 0 else f"k{j}", "subKey2": sub}
            )
        rows.append(
            {
                "doc_id": f"doc{i:08d}",
                "meta": {"owner": f"u{i % 7}", "ver": i % 5},
                "keys": keys,
            }
        )
    return rows


def test_nested_struct_engine_roundtrip(spark, warehouse):
    """M1/M2/M5 at the ENGINE level (VERDICT r2 #3): struct + array<struct>
    columns migrate (nested $set, struct-leaf $unset, two-level filtered
    positional $[e].$[e2] set) -> full pre-image backup -> changelog-path
    rollback restores the exact nested state (rollback.test.ts:997-1106)."""
    from mongo_bulk_data_migration_spark.functions.nested import set_path, set_where

    from pyspark.sql import types as T

    cat = Catalog(warehouse)
    t = cat.create_table("nested", T.StructType.fromDDL(NESTED_SCHEMA), num_buckets=4)
    t.append(spark.createDataFrame(_nested_rows(), NESTED_SCHEMA))
    initial = rows_of(t.read(spark))

    new_meta = set_path(
        set_path(F.col("meta"), "ver", (F.col("meta.ver") + 1).cast("int")),
        "owner", F.lit(None).cast("string"),  # typed $unset of a struct leaf
    )
    new_keys = set_where(
        F.col("keys"),
        lambda e: e["subKey1"] == "match_me",
        lambda e: e.withField(
            "subKey2",
            set_where(
                e["subKey2"],
                lambda e2: e2["elt1"] >= 100,
                lambda e2: e2.withField("elt2", F.lit("SET")),
            ),
        ),
    )
    cfg = DataMigrationConfig(
        warehouse=warehouse, collection_name="nested", id="nst",
        query="meta.ver < 4", update={"meta": new_meta, "keys": new_keys},
    )
    m = MongoBulkDataMigrationSpark(spark, cfg)
    res = m.update()
    assert res["nModified"] == res["nBackups"] > 0

    got = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    # doc 1: ver 1 -> 2, owner unset, j=0 is match_me with elt1 in {55,105}
    assert got["doc00000001"]["meta"] == {"owner": None, "ver": 2}
    assert got["doc00000001"]["keys"][0]["subKey2"][1]["elt2"] == "SET"
    assert got["doc00000001"]["keys"][0]["subKey2"][0]["elt2"] == "e0"  # < 100 untouched
    # doc 4: ver 4 -> query miss, fully untouched
    assert got["doc00000004"] == {r["doc_id"]: r for r in initial}["doc00000004"]

    t.commit_marker({}, operation="foreign-touch")  # force the changelog path
    m.rollback()
    assert rows_of(cat.load_table("nested").read(spark)) == initial
