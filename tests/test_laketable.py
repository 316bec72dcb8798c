"""LakeTable: snapshots, bucket pruning, time travel, schema evolution.

Mirrors the reference's collection-level contract: atomic rename swap
(`MongoBulkDataMigration.test.ts:109-175`), drop-tolerance of clean()
(`MongoBulkDataMigration.test.ts:77-107`).
"""

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from mongo_bulk_data_migration_spark import Catalog, LakeTable
from mongo_bulk_data_migration_spark.sources.fixtures import (
    SEQUENCES_SCHEMA,
    make_sequences,
    sequences_spark,
)

from conftest import rows_of


def test_create_append_read(spark, warehouse):
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=8)
    df = sequences_spark(spark, 100)
    t.append(df)
    got = rows_of(t.read(spark))
    assert got == rows_of(df)
    assert t.current_version() == 1


def test_empty_read_plans_no_python_scan(spark, warehouse):
    """An empty table (or an empty change range) is a JVM-side empty
    relation: no `Scan ExistingRDD` over `parallelize([])`, which would start
    a Python worker per core for zero rows."""
    from mongo_bulk_data_migration_spark.sources.changefeed import table_changes

    t = Catalog(warehouse).create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    v = t.current_version()
    for df in (t.read(spark), t.read(spark, buckets=[]), table_changes(t, spark, v)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and "LocalTableScan" in plan
        assert df.count() == 0
    assert t.read(spark).schema == t.schema


def test_manifest_row_counts_survive_one_failed_footer(spark, warehouse, monkeypatch):
    """A footer read that fails at write time, with any error, drops only
    that entry's manifest row count; every other entry keeps its count."""
    import pyarrow.parquet as pq

    real = pq.ParquetFile
    calls = []

    def flaky(path, *a, **k):
        calls.append(path)
        if len(calls) == 1:
            # pyarrow's ArrowNotImplementedError is a NotImplementedError
            raise NotImplementedError("unsupported footer")
        return real(path, *a, **k)

    t = Catalog(warehouse).create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    monkeypatch.setattr(pq, "ParquetFile", flaky)
    t.append(sequences_spark(spark, 40))
    files = t.snapshot().files
    assert len(files) == len(calls) > 1
    assert sum("rows" not in f for f in files) == 1
    assert sum(f.get("rows", 0) for f in files) == 40 - real(
        f"{t.root}/{next(f['path'] for f in files if 'rows' not in f)}"
    ).metadata.num_rows


def test_bucket_pruning_reads_subset(spark, warehouse):
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=8)
    t.append(sequences_spark(spark, 200))
    full = t.read(spark).count()
    some = t.read(spark, buckets=[0, 1]).count()
    assert 0 < some < full
    # pruned union over all buckets == full table
    total = sum(t.read(spark, buckets=[b]).count() for b in range(8))
    assert total == full


def test_bucket_assignment_consistent(spark, warehouse):
    """Every row lands in the bucket its key hashes to (merge relies on it)."""
    from mongo_bulk_data_migration_spark.sources.laketable import bucket_expr

    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=8)
    t.append(sequences_spark(spark, 100))
    for b in [0, 3, 7]:
        bad = (
            t.read(spark, buckets=[b])
            .where(bucket_expr("doc_id", 8) != b)
            .count()
        )
        assert bad == 0


def test_overwrite_buckets_and_time_travel(spark, warehouse):
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    t.append(sequences_spark(spark, 50))
    v1 = t.current_version()
    before = rows_of(t.read(spark))
    before_untouched = rows_of(t.read(spark, buckets=[0, 1, 3]))

    changed = t.read(spark, buckets=[2]).withColumn("source", F.lit("MUT"))
    t.overwrite_buckets(changed, [2])
    after = rows_of(t.read(spark))
    assert after != before
    assert "MUT" in {r["source"] for r in after}
    # untouched buckets carried over by reference, byte-identical
    assert rows_of(t.read(spark, buckets=[0, 1, 3])) == before_untouched

    t.rollback_to_snapshot(v1)
    assert rows_of(t.read(spark)) == before


def test_schema_evolution_add_column(spark, warehouse):
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    t.append(sequences_spark(spark, 20))
    t.add_columns([T.StructField("extra", T.StringType(), True)])
    got = t.read(spark)
    assert "extra" in got.columns
    assert got.where(F.col("extra").isNotNull()).count() == 0  # old files -> NULL
    # new writes carry the column
    newrow = spark.createDataFrame(
        [("docX", [1, 2], 2, "web", "payload")],
        T.StructType(list(SEQUENCES_SCHEMA.fields) + [T.StructField("extra", T.StringType())]),
    )
    t.append(newrow)
    assert t.read(spark).where(F.col("extra") == "payload").count() == 1


def test_applied_markers_carry_forward(spark, warehouse):
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    t.append(sequences_spark(spark, 10), applied={"mig1": {"batch_id": 0}})
    t.append(sequences_spark(spark, 5), applied={"mig1": {"batch_id": 1}})
    assert t.applied_marker("mig1") == {"batch_id": 1}
    assert t.applied_marker("nope") is None


def test_rename_and_drop(spark, warehouse):
    cat = Catalog(warehouse)
    cat.create_table("a", SEQUENCES_SCHEMA)
    assert cat.rename_table("a", "b") is True
    assert cat.rename_table("a", "b") is False  # second swap: {ok: 0} analog
    assert cat.exists("b") and not cat.exists("a")
    assert cat.drop_table("b") is True
    assert cat.drop_table("b") is False  # drop-absent tolerated


def test_expire_snapshots_gc(spark, warehouse):
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=2)
    t.append(sequences_spark(spark, 20))
    t.overwrite_buckets(t.read(spark).withColumn("source", F.lit("x")), [0, 1])
    before = rows_of(t.read(spark))
    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0
    assert rows_of(t.read(spark)) == before


def test_widen_column_online(spark, warehouse):
    """Type widening (int->long, array<int>->array<long>) is metadata-only:
    old files read back upcast, no rewrite, narrowing rejected."""
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    t.append(sequences_spark(spark, 50))
    v_data = t.current_version()
    t.widen_column("n_tok", T.LongType())
    t.widen_column("tokens", T.ArrayType(T.LongType()))
    fld = {f.name: f.dataType for f in t.schema.fields}
    assert fld["n_tok"] == T.LongType()
    assert fld["tokens"] == T.ArrayType(T.LongType())
    # no data files rewritten: same file list as the pre-DDL snapshot
    assert t.snapshot().files == t.snapshot(v_data).files
    got = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    for r in make_sequences(50):
        assert got[r["doc_id"]]["tokens"] == r["tokens"]
        assert got[r["doc_id"]]["n_tok"] == r["n_tok"]
    # values beyond int range are now appendable
    t.append(
        spark.createDataFrame(
            [{"doc_id": "docWIDE", "tokens": [2**40], "n_tok": 1, "source": "web"}],
            t.schema,
        )
    )
    wide = rows_of(t.read(spark).where("doc_id = 'docWIDE'"))
    assert wide[0]["tokens"] == [2**40]
    with pytest.raises(ValueError):
        t.widen_column("n_tok", T.IntegerType())  # narrowing
    with pytest.raises(KeyError):
        t.widen_column("nope", T.LongType())


def test_concurrent_commit_conflict_detected(spark, warehouse):
    """Optimistic concurrency: a racing writer that creates the next
    snapshot version first must make the slower committer FAIL LOUDLY
    (lost commits violate exactly-once), and the winner's snapshot plus
    the CURRENT pointer must survive untouched."""
    import os

    from mongo_bulk_data_migration_spark.sources.laketable import (
        CommitConflictError,
        META_DIR,
    )

    cat = Catalog(warehouse)
    t = cat.create_table("sequences", SEQUENCES_SCHEMA, num_buckets=2)
    t.append(sequences_spark(spark, 20))
    v = t.current_version()

    # both writers read the table and plan the same next version...
    mine = t._next_snapshot("my-commit")
    winner = t._next_snapshot("foreign-commit")
    assert mine.version == winner.version == v + 1
    # ...the foreign writer lands first
    t._write_snapshot(winner)
    # ...and the slower commit must fail loudly, not clobber
    with pytest.raises(CommitConflictError):
        t._write_snapshot(mine)

    assert t.snapshot(v + 1).operation == "foreign-commit"
    cur = int(open(os.path.join(warehouse, "sequences", META_DIR, "CURRENT")).read())
    assert cur == v + 1


def test_current_pointer_never_regresses_on_slow_commit(spark, warehouse):
    """A commit that wins its version race but lands after a LATER version
    was committed must not move CURRENT backwards."""
    import os

    from mongo_bulk_data_migration_spark.sources.laketable import META_DIR, _atomic_write

    cat = Catalog(warehouse)
    t = cat.create_table("sequences", SEQUENCES_SCHEMA, num_buckets=2)
    t.append(sequences_spark(spark, 10))
    v = t.current_version()
    # another writer already advanced CURRENT past what this commit will be
    snap = t._next_snapshot("slow-commit")
    _atomic_write(
        os.path.join(warehouse, "sequences", META_DIR, "CURRENT"), str(v + 50)
    )
    with open(t._snap_path(v + 50), "w") as f:
        fast = t.snapshot(v)
        fast.version = v + 50
        f.write(fast.to_json())
    t._write_snapshot(snap)  # wins its own version file...
    cur = int(open(os.path.join(warehouse, "sequences", META_DIR, "CURRENT")).read())
    assert cur == v + 50  # ...but does not regress the pointer


def test_staged_overwrite_invisible_until_commit(spark, warehouse):
    """Pipelined-commit contract: stage_overwrite_buckets writes files but no
    reader (current or time-traveled) sees them until PendingCommit.commit
    flips the manifest — the invariant the replayer's changelog/merge-write
    overlap rests on (WAL order constrains commit visibility, not file IO)."""
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=8)
    t.append(sequences_spark(spark, 100))
    before = rows_of(t.read(spark))
    ver0 = t.current_version()

    changed = t.read(spark, buckets=[2]).withColumn("source", F.lit("staged"))
    pending = t.stage_overwrite_buckets(changed, [2])
    # files are on disk, but the table is unchanged for every reader
    assert t.current_version() == ver0
    assert rows_of(t.read(spark)) == before
    assert t.applied_marker("mig-x") is None

    ver1 = pending.commit(applied={"mig-x": {"batch_id": 7}})
    assert ver1 == ver0 + 1 == t.current_version()
    got = rows_of(t.read(spark))
    assert got != before
    assert {r["source"] for r in rows_of(t.read(spark, buckets=[2]))} == {"staged"}
    assert t.applied_marker("mig-x") == {"batch_id": 7}
    # time travel to the pre-commit version still shows the old rows
    assert rows_of(t.read(spark, version=ver0)) == before


def test_staged_delta_invisible_until_commit(spark, warehouse):
    """MoR counterpart: stage_append_deltas -> invisible until commit."""
    cat = Catalog(warehouse)
    t = cat.create_table(
        "seq", SEQUENCES_SCHEMA, num_buckets=8, properties={"merge_mode": "mor"}
    )
    t.append(sequences_spark(spark, 50))
    before = rows_of(t.read(spark))
    one = t.read(spark).limit(1).withColumn("source", F.lit("delta"))
    pending = t.stage_append_deltas(one, list(range(8)))
    assert rows_of(t.read(spark)) == before
    assert t.delta_layers() == 0
    pending.commit()
    assert t.delta_layers() == 1
    after = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    changed_id = rows_of(one)[0]["doc_id"]
    assert after[changed_id]["source"] == "delta"


def test_commuting_commit_conflict_rebases(spark, warehouse):
    """VERDICT r5 #4: a lost version race against a COMMUTING commit
    (disjoint buckets / marker-only / plain append) rebases and succeeds;
    overlapping-bucket overwrites still fail loudly."""
    from mongo_bulk_data_migration_spark.sources.laketable import CommitConflictError

    cat = Catalog(warehouse)
    t = cat.create_table("sequences", SEQUENCES_SCHEMA, num_buckets=4)
    t.append(sequences_spark(spark, 40))
    rows = rows_of(t.read(spark))

    # two writers stage DISJOINT bucket overwrites from the same parent
    def bucket_rows(b):
        from pyspark.sql import functions as F
        return t.read(spark).where(
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(4)).cast("int") == b
        ).withColumn("n_tok", F.lit(b).cast("int"))

    p1 = t.stage_overwrite_buckets(bucket_rows(0), [0], operation="w0")
    p2 = t.stage_overwrite_buckets(bucket_rows(1), [1], operation="w1")
    v1 = p1.commit()
    v2 = p2.commit()  # loses the race for v1's version; must rebase + succeed
    assert v2 > v1
    assert t.snapshot(v2).operation == "w1"
    after = rows_of(t.read(spark))
    assert len(after) == len(rows)
    # both writers' effects present
    n_by_tok = {r["n_tok"] for r in after}
    assert {0, 1} <= n_by_tok

    # marker-only commit racing an overwrite: rebases too
    p3 = t.stage_overwrite_buckets(bucket_rows(2), [2], operation="w2")
    vm = t.commit_marker({"mig": {"batch_id": 9}}, operation="marker")
    v3 = p3.commit()
    assert v3 > vm
    assert t.snapshot().applied["mig"]["batch_id"] == 9  # marker carried through

    # OVERLAPPING overwrites: second must still fail loudly
    p4 = t.stage_overwrite_buckets(bucket_rows(3), [3], operation="w4a")
    p5 = t.stage_overwrite_buckets(bucket_rows(3), [3], operation="w4b")
    p4.commit()
    with pytest.raises(CommitConflictError):
        p5.commit()


def test_manifest_records_file_row_counts(spark, warehouse):
    """Manifest entries carry per-file row counts written at commit time, so
    metadata consumers (e.g. the changelog broadcast bound) need no per-batch
    footer scan; entries without the key (legacy manifests) stay readable."""
    import os

    import pyarrow.parquet as pq

    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=8)
    t.append(sequences_spark(spark, 137))
    snap = t.snapshot()
    assert all("rows" in f for f in snap.files)
    assert sum(f["rows"] for f in snap.files) == 137
    # manifest counts agree with the actual parquet footers
    for f in snap.files:
        actual = pq.ParquetFile(os.path.join(t.root, f["path"])).metadata.num_rows
        assert f["rows"] == actual
    # round-trips through the JSON manifest
    reloaded = cat.load_table("seq").snapshot()
    assert sum(f["rows"] for f in reloaded.files) == 137
