"""Change-stream replay vs the pure-Python oracle simulator.

Covers FIXTURES.md invariants 1-8: golden end-state token equality, rollback
round-trip, crash-resume exactly-once, last-wins, schema evolution, skew.
"""

import pytest
from pyspark.sql import functions as F

from mongo_bulk_data_migration_spark import Catalog, MigrationOptions
from mongo_bulk_data_migration_spark.simulator import OracleSimulator
from mongo_bulk_data_migration_spark.sources.fixtures import (
    CHANGES_SCHEMA,
    SEQUENCES_SCHEMA,
    changes_spark,
    make_changes,
    make_sequences,
)
from mongo_bulk_data_migration_spark.streaming.replay import (
    ChangeStreamReplayer,
    SimulatedCrash,
)

from conftest import rows_of

N_DOCS = 120
N_EVENTS = 400
PER_BATCH = 100  # -> 4 batches


def setup_run(spark, warehouse, n_docs=N_DOCS, n_events=N_EVENTS, evolve=None, seed=42):
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=8)
    rows = make_sequences(n_docs)
    t.append(spark.createDataFrame(rows, SEQUENCES_SCHEMA))
    events = make_changes(
        n_docs, n_events, n_parts=8, n_batches=4, schema_evolution_from_batch=evolve, seed=seed
    )
    sim = OracleSimulator(rows)
    return cat, t, events, sim


def sim_apply_all(sim, events, per_batch=PER_BATCH):
    for b in range(0, max(e["seq"] for e in events) // per_batch + 1):
        sim.apply_batch([e for e in events if e["seq"] // per_batch == b])


def compare(spark, t, sim):
    got = rows_of(t.read(spark))
    want = sim.rows()
    assert len(got) == len(want), f"row count {len(got)} != {len(want)}"
    for g, w in zip(got, want):
        assert g["doc_id"] == w["doc_id"]
        assert g["tokens"] == w["tokens"], f"tokens mismatch for {g['doc_id']}"
        assert g["n_tok"] == w["n_tok"], f"n_tok mismatch for {g['doc_id']}"
        assert g.get("source") == w.get("source"), f"source mismatch for {g['doc_id']}"
        if "extra" in w:
            assert g.get("extra") == w.get("extra"), f"extra mismatch for {g['doc_id']}"


def test_replay_golden_end_state(spark, warehouse):
    """Invariant 1: apply all batches -> per-doc token equality vs oracle."""
    cat, t, events, sim = setup_run(spark, warehouse)
    rep = ChangeStreamReplayer(spark, warehouse, "seq", "cdc1")
    metrics = rep.apply_changes(changes_spark(spark, events), events_per_batch=PER_BATCH)
    sim_apply_all(sim, events)
    compare(spark, t, sim)
    assert len(metrics) == 4
    assert all(m["n_events"] > 0 for m in metrics)
    assert sum(m["n_events"] for m in metrics) == N_EVENTS


def test_replay_rollback_roundtrip(spark, warehouse):
    """Invariant 2: update -> rollback == initial; second rollback no-op."""
    cat, t, events, sim = setup_run(spark, warehouse)
    initial = rows_of(t.read(spark))
    rep = ChangeStreamReplayer(spark, warehouse, "seq", "cdc2")
    rep.apply_changes(changes_spark(spark, events), events_per_batch=PER_BATCH)
    assert rows_of(t.read(spark)) != initial
    rep.rollback()
    assert rows_of(cat.load_table("seq").read(spark)) == initial
    res2 = rep.rollback()
    assert res2["nModified"] == 0 and res2["nRemoved"] == 0


def test_replay_rollback_after_foreign_write_uses_changelog(spark, warehouse):
    """Same round-trip but with an interleaved foreign write: snapshot fast
    path must be rejected; changelog replay restores all OUR changes while
    keeping the foreign one (projection-scoped semantics are whole-row here
    since CDC backs up full pre-images)."""
    cat, t, events, sim = setup_run(spark, warehouse)
    initial = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    rep = ChangeStreamReplayer(spark, warehouse, "seq", "cdc3")
    rep.apply_changes(changes_spark(spark, events), events_per_batch=PER_BATCH)

    # foreign writer deletes one never-touched doc out-of-band
    from mongo_bulk_data_migration_spark.operators.merge import build_merge_plan, run_merge

    touched_keys = {e["doc_id"] for e in events}
    victim = sorted(set(initial) - touched_keys)[0]
    plan = build_merge_plan(
        t, spark, spark.createDataFrame([(victim, "delete")], "doc_id string, __op string")
    )
    run_merge(t, plan, operation="foreign-delete")
    plan.release()

    res = rep.rollback()
    assert not any(b.get("mode") == "snapshot-time-travel" for b in res["batches"])
    got = {r["doc_id"]: r for r in rows_of(cat.load_table("seq").read(spark))}
    assert victim not in got  # foreign delete preserved (no resurrect)
    want = dict(initial)
    del want[victim]
    assert got == want


@pytest.mark.parametrize("crash_point", ["changelog", "merge"])
def test_crash_resume_exactly_once(spark, warehouse, crash_point):
    """Invariant 3: kill after changelog commit / after merge commit of batch
    1, re-run, end state identical to an uninterrupted run (no double-apply
    of non-idempotent transforms like append_eos)."""
    cat, t, events, sim = setup_run(spark, warehouse)
    rep = ChangeStreamReplayer(spark, warehouse, "seq", f"cdc4{crash_point}")
    with pytest.raises(SimulatedCrash):
        rep.apply_changes(
            changes_spark(spark, events),
            events_per_batch=PER_BATCH,
            crash_after=(1, crash_point),
        )
    # resume: same replayer state dirs, no crash
    rep2 = ChangeStreamReplayer(spark, warehouse, "seq", f"cdc4{crash_point}")
    rep2.apply_changes(changes_spark(spark, events), events_per_batch=PER_BATCH)
    sim_apply_all(sim, events)
    compare(spark, t, sim)


@pytest.mark.parametrize("entry", ["update", "replay"])
def test_append_failure_chains_stage_error(spark, warehouse, monkeypatch, entry):
    """Both halves of a batch fail: the changelog append's error propagates
    with the concurrent merge stage's error as ``__cause__`` (neither is
    dropped), and no merge commit lands."""
    from mongo_bulk_data_migration_spark import DataMigrationConfig, MongoBulkDataMigrationSpark
    from mongo_bulk_data_migration_spark.plans import engine as engine_mod
    from mongo_bulk_data_migration_spark.plans.changelog import Changelog

    cat, t, events, sim = setup_run(spark, warehouse)
    initial = rows_of(t.read(spark))

    def stage_fails(*a, **k):
        raise RuntimeError("stage failed")

    def append_fails(*a, **k):
        raise OSError("append failed")

    monkeypatch.setattr(engine_mod, "stage_merge", stage_fails)
    monkeypatch.setattr(Changelog, "append_batch", append_fails)
    if entry == "update":
        run = MongoBulkDataMigrationSpark(spark, DataMigrationConfig(
            warehouse=warehouse, collection_name="seq", id="chain", update={"source": "X"},
        )).update
    else:
        rep = ChangeStreamReplayer(spark, warehouse, "seq", "chain")

        def run():
            rep.apply_changes(changes_spark(spark, events), events_per_batch=PER_BATCH)

    with pytest.raises(OSError, match="append failed") as ei:
        run()
    assert isinstance(ei.value.__cause__, RuntimeError)
    assert "stage failed" in str(ei.value.__cause__)
    t = cat.load_table("seq")
    assert t.applied_marker("chain") is None
    assert not any("batch" in t.snapshot(v).operation for v in t.history())
    assert rows_of(t.read(spark)) == initial


def test_last_wins_multiple_events_per_key(spark, warehouse):
    """Invariant 6: a key with several events in one batch ends at the
    highest-seq event's effect (computed against pre-batch state)."""
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    rows = make_sequences(3)
    t.append(spark.createDataFrame(rows, SEQUENCES_SCHEMA))
    sim = OracleSimulator(rows)
    ev = [
        dict(seq=0, part=0, op="update", doc_id="doc00000001", tokens=None,
             transform="append_eos", source=None, extra=None),
        dict(seq=1, part=0, op="update", doc_id="doc00000001", tokens=None,
             transform="truncate:2", source=None, extra=None),
        dict(seq=2, part=0, op="delete", doc_id="doc00000002", tokens=None,
             transform=None, source=None, extra=None),
        dict(seq=3, part=0, op="update", doc_id="doc00000002", tokens=None,
             transform="append_eos", source=None, extra=None),
    ]
    rep = ChangeStreamReplayer(spark, warehouse, "seq", "cdc5")
    rep.apply_changes(changes_spark(spark, ev), events_per_batch=100)
    sim.apply_batch(ev)
    compare(spark, t, sim)
    got = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    assert got["doc00000001"]["tokens"] == rows[1]["tokens"][:2]  # truncate won
    assert "doc00000002" in got  # update (seq 3) won over delete (seq 2)


def test_schema_evolution_replay(spark, warehouse):
    """Invariant 8: batches with `extra` payload add a nullable column
    online; earlier rows read back NULL; replay stays exactly-once."""
    cat, t, events, sim = setup_run(spark, warehouse, evolve=2)
    rep = ChangeStreamReplayer(spark, warehouse, "seq", "cdc6")
    rep.apply_changes(changes_spark(spark, events), events_per_batch=PER_BATCH)
    sim_apply_all(sim, events)
    assert "extra" in [f.name for f in cat.load_table("seq").schema.fields]
    compare(spark, t, sim)
    # rollback across the evolution boundary: tokens/source restored; the
    # evolved column reads NULL everywhere (it did not exist initially)
    rep.rollback()
    got = rows_of(cat.load_table("seq").read(spark))
    init = {r["doc_id"]: r for r in make_sequences(N_DOCS)}
    assert {r["doc_id"] for r in got} == set(init)
    for r in got:
        assert r["tokens"] == init[r["doc_id"]]["tokens"]
        assert r.get("extra") is None


def test_hwm_resume_skips_applied_seqs(spark, warehouse):
    """R1: a second apply_changes of the same events is a no-op."""
    cat, t, events, sim = setup_run(spark, warehouse)
    rep = ChangeStreamReplayer(spark, warehouse, "seq", "cdc7")
    rep.apply_changes(changes_spark(spark, events), events_per_batch=PER_BATCH)
    state1 = rows_of(t.read(spark))
    out = rep.apply_changes(changes_spark(spark, events), events_per_batch=PER_BATCH)
    assert out == []  # everything below the HWM
    assert rows_of(cat.load_table("seq").read(spark)) == state1


def test_zipf_skew_correctness(spark, warehouse):
    """Invariant 7: hot Zipf keys process correctly (with explicit salt)."""
    cat, t, events, sim = setup_run(spark, warehouse, n_docs=60, n_events=600, seed=7)
    rep = ChangeStreamReplayer(
        spark, warehouse, "seq", "cdc8",
        options=MigrationOptions(dedup_salt=8),
    )
    rep.apply_changes(changes_spark(spark, events), events_per_batch=150)
    sim_apply_all(sim, events, per_batch=150)
    compare(spark, t, sim)


def test_rollback_restores_preimage_after_migration_reinsert(spark, warehouse):
    """A key deleted by the migration in batch 0 and re-inserted BY the
    migration in batch 1 must roll back to its PRE-IMAGE, not keep the
    migrated payload (the insert-if-absent path alone would no-op on the
    re-inserted row).  Changelog-replay path (foreign marker blocks the
    snapshot fast path)."""
    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    rows = make_sequences(4)
    t.append(spark.createDataFrame(rows, SEQUENCES_SCHEMA))
    sim = OracleSimulator(rows)
    d1, d2 = "doc00000001", "doc00000002"
    b0 = [
        dict(seq=0, part=0, op="delete", doc_id=d1, tokens=None, transform=None, source=None, extra=None),
        dict(seq=1, part=0, op="delete", doc_id=d2, tokens=None, transform=None, source=None, extra=None),
    ]
    b1 = [dict(seq=100, part=0, op="insert", doc_id=d1, tokens=[9, 9], transform=None, source="web", extra=None),
          dict(seq=101, part=0, op="insert", doc_id=d2, tokens=[8], transform=None, source="web", extra=None)]
    # d2: deleted AGAIN by us in batch 2 (delete > reinsert) -> re-insert pre-image
    b2 = [dict(seq=200, part=0, op="delete", doc_id=d2, tokens=None, transform=None, source=None, extra=None)]
    rep = ChangeStreamReplayer(spark, warehouse, "seq", "ri1")
    rep.apply_changes(changes_spark(spark, b0 + b1 + b2), events_per_batch=100)
    for b in (b0, b1, b2):
        sim.apply_batch(b)
    compare(spark, t, sim)
    got = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    assert got[d1]["tokens"] == [9, 9] and d2 not in got

    t.commit_marker({}, operation="foreign-touch")  # force changelog path
    res = rep.rollback()
    assert not any(b.get("mode") == "snapshot-time-travel" for b in res["batches"])
    sim.rollback()
    compare(spark, t, sim)
    got = {r["doc_id"]: r for r in rows_of(cat.load_table("seq").read(spark))}
    init = {r["doc_id"]: r for r in rows}
    assert got[d1]["tokens"] == init[d1]["tokens"]  # pre-image, not [9, 9]
    assert got[d2]["tokens"] == init[d2]["tokens"]  # re-inserted pre-image


def test_changelog_append_replay_is_idempotent_per_key(spark, warehouse):
    """Re-appending the same batch (crash between changelog and merge) must
    not duplicate backups, tombstones or reinsert markers, and a resumed
    run carrying EXTRA keys under the same batch_id must still back them up
    (no batch-marker fast-path skip)."""
    from mongo_bulk_data_migration_spark.plans.changelog import Changelog

    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    rows = make_sequences(6)
    t.append(spark.createDataFrame(rows, SEQUENCES_SCHEMA))
    cl = Changelog(cat, "_rollback_seq_x", t, "x")

    def preimage(keys, op="update", matched=True):
        data = [(k, op, matched, rows[int(k[-2:])]["tokens"], len(rows[int(k[-2:])]["tokens"]), "web")
                for k in keys]
        return spark.createDataFrame(
            data,
            "doc_id string, __op string, __matched boolean, __pre_tokens array<int>, "
            "__pre_n_tok int, __pre_source string",
        )

    n1 = cl.append_batch(spark, preimage(["doc00000001", "doc00000002"]), 0, "{}")
    assert n1 == 2
    # replay of batch 0 with MORE keys (FETCH_ALL crash-resume shape)
    n2 = cl.append_batch(spark, preimage(["doc00000001", "doc00000002", "doc00000003"]), 0, "{}")
    assert n2 == 1  # only the new key backed up; old ones first-write-wins
    log = rows_of(cl.table().read(spark))
    assert len([r for r in log if r["kind"] == "backup"]) == 3


def test_changelog_expr_cache_reuse_and_invalidation(spark, warehouse, monkeypatch):
    """The batch-invariant expression trees (backup struct / record array)
    are built once per (preimage columns, backup projection, backup schema)
    and reused across batches; a changed preimage shape rebuilds them."""
    from mongo_bulk_data_migration_spark.plans.changelog import Changelog

    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
    rows = make_sequences(6)
    t.append(spark.createDataFrame(rows, SEQUENCES_SCHEMA))
    cl = Changelog(cat, "_rollback_seq_c", t, "c")

    builds = []
    orig = Changelog._build_record_exprs

    def counting(self, *a, **kw):
        builds.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(Changelog, "_build_record_exprs", counting)

    def preimage(keys, cols=True):
        data = [
            (k, "update", True, rows[int(k[-2:])]["tokens"])
            + ((len(rows[int(k[-2:])]["tokens"]),) if cols else ())
            for k in keys
        ]
        schema = (
            "doc_id string, __op string, __matched boolean, __pre_tokens array<int>"
            + (", __pre_n_tok int" if cols else "")
        )
        return spark.createDataFrame(data, schema)

    assert cl.append_batch(spark, preimage(["doc00000001"]), 0, "{}") == 1
    assert cl.append_batch(spark, preimage(["doc00000002"]), 1, "{}") == 1
    assert len(builds) == 1  # second batch reused the cached trees
    # a different preimage column set must NOT reuse the cached struct
    assert cl.append_batch(spark, preimage(["doc00000003"], cols=False), 2, "{}") == 1
    assert len(builds) == 2
    # content unaffected: one backup per key, unbuilt columns restore to NULL
    log = rows_of(cl.table().read(spark))
    backups = {r["doc_id"]: r["backup"] for r in log if r["kind"] == "backup"}
    assert len(backups) == 3
    assert backups["doc00000002"]["n_tok"] == len(rows[2]["tokens"])
    assert backups["doc00000003"]["n_tok"] is None


def test_replay_merge_on_read_end_to_end(spark, warehouse):
    """Full CDC replay + rollback on a merge_mode='mor' table matches the
    oracle exactly — no base rewrite per batch, read-time resolution."""
    cat = Catalog(warehouse)
    t = cat.create_table(
        "seq", SEQUENCES_SCHEMA, num_buckets=8, properties={"merge_mode": "mor"}
    )
    rows = make_sequences(N_DOCS)
    t.append(spark.createDataFrame(rows, SEQUENCES_SCHEMA))
    events = make_changes(N_DOCS, N_EVENTS, n_parts=8, n_batches=4, seed=42)
    sim = OracleSimulator(rows)
    base_files = [f for f in t.snapshot().files if f.get("kind", "base") == "base"]

    rep = ChangeStreamReplayer(spark, warehouse, "seq", "mor1")
    rep.apply_changes(changes_spark(spark, events), events_per_batch=PER_BATCH)
    sim_apply_all(sim, events)
    compare(spark, t, sim)
    # base untouched; one delta layer per batch
    assert [f for f in t.snapshot().files if f.get("kind", "base") == "base"] == base_files
    assert t.delta_layers() == 4

    t.commit_marker({}, operation="foreign-touch")  # force changelog rollback
    rep.rollback()
    sim.rollback()
    compare(spark, cat.load_table("seq"), sim)


def test_type_widening_replay(spark, warehouse):
    """Online WIDEN COLUMN driven by batch type drift: a later event batch
    arrives with tokens as array<long> (upstream producer upgraded); the
    table widens in place (metadata-only), earlier files upcast on read,
    and final state still matches the oracle simulator exactly."""
    import pyspark.sql.types as T

    cat, t, events, sim = setup_run(spark, warehouse)
    rep = ChangeStreamReplayer(spark, warehouse, "seq", "cdc_widen")
    half = (max(e["seq"] for e in events) + 1) // 2
    first = [e for e in events if e["seq"] < half]
    rest = [e for e in events if e["seq"] >= half]
    rep.apply_changes(changes_spark(spark, first), events_per_batch=PER_BATCH)
    wide = changes_spark(spark, rest).withColumn(
        "tokens", F.col("tokens").cast("array<long>")
    )
    rep.apply_changes(wide, events_per_batch=PER_BATCH)
    sim_apply_all(sim, events)
    fld = {f.name: f.dataType for f in cat.load_table("seq").schema.fields}
    assert fld["tokens"] == T.ArrayType(T.LongType())
    compare(spark, t, sim)
    # rollback across the widening boundary restores the initial table
    rep.rollback()
    got = rows_of(cat.load_table("seq").read(spark))
    init = {r["doc_id"]: r for r in make_sequences(N_DOCS)}
    assert {r["doc_id"] for r in got} == set(init)
    for r in got:
        assert r["tokens"] == init[r["doc_id"]]["tokens"]


def test_changelog_compaction_preserves_rollback(spark, warehouse):
    """VERDICT r2 #10: changelog growth is bounded by compaction — folding
    fat buckets (and collapsing duplicate markers to their max-batch row)
    changes neither the first-write-wins view mid-migration nor the rollback
    result; file count provably shrinks."""
    from mongo_bulk_data_migration_spark.plans.changelog import Changelog

    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=1)
    rows = make_sequences(20)
    t.append(spark.createDataFrame(rows, SEQUENCES_SCHEMA))
    initial = rows_of(t.read(spark))
    events = spark.createDataFrame(
        make_changes(20, 120, n_parts=2, n_batches=6), CHANGES_SCHEMA
    )

    rep = ChangeStreamReplayer(spark, warehouse, "seq", "cmp1", evolve_schema=False)
    # first half of the batches, then compact MID-MIGRATION, then the rest:
    # later appends run their anti joins against the compacted log
    rep.apply_changes(events, events_per_batch=20, max_batches=3)
    cl = Changelog(cat, rep.config.rollback_table_name, t, "cmp1")
    n_before = len(cl.table().snapshot().files)
    assert cl.compact(spark, max_files_per_bucket=2) == 1
    assert len(cl.table().snapshot().files) < n_before
    rep.apply_changes(events, events_per_batch=20)

    rep.rollback()
    assert rows_of(cat.load_table("seq").read(spark)) == initial


@pytest.mark.parametrize("entry", ["replay", "update"])
def test_mor_auto_compaction_bounds_layers(spark, warehouse, entry):
    """VERDICT r3 #8: a long MoR run must not grow delta layers without
    bound — the batch commit auto-compacts when layers exceed the table's
    `auto_compact_layers` cadence property, for the replayer and for a
    multi-batch update() alike.  Final state still equals the expected
    state (compaction is logically invisible)."""
    cat = Catalog(warehouse)
    t = cat.create_table(
        "seq", SEQUENCES_SCHEMA, num_buckets=8,
        properties={"merge_mode": "mor", "auto_compact_layers": 2},
    )
    rows = make_sequences(N_DOCS)
    t.append(spark.createDataFrame(rows, SEQUENCES_SCHEMA))

    if entry == "replay":
        events = make_changes(N_DOCS, 800, n_parts=8, n_batches=8, seed=7)
        sim = OracleSimulator(rows)
        rep = ChangeStreamReplayer(spark, warehouse, "seq", "morac")
        rep.apply_changes(changes_spark(spark, events), events_per_batch=100)  # 8 batches
        sim_apply_all(sim, events, per_batch=100)
    else:
        from mongo_bulk_data_migration_spark import DataMigrationConfig, MongoBulkDataMigrationSpark

        res = MongoBulkDataMigrationSpark(spark, DataMigrationConfig(
            warehouse=warehouse, collection_name="seq", id="morac", update={"source": "U"},
            options=MigrationOptions(max_bulk_size=20),
        )).update()
        assert len(res["batches"]) == 6
        sim = OracleSimulator([dict(r, source="U") for r in rows])

    # the cadence held: never more than k+1 layers existed at any commit
    # (the +1 is the batch that trips the threshold before its compact)
    t = cat.load_table("seq")
    for v in t.history():
        snap = t.snapshot(v)
        layers = len({f["dseq"] for f in snap.files if f.get("kind") == "delta"})
        assert layers <= 3, f"version {v}: {layers} delta layers"
    assert t.delta_layers() <= 3
    compare(spark, t, sim)


def test_multibatch_rollback_is_bucket_pruned(spark, warehouse):
    """VERDICT r3 #10: a multi-batch rollback must stay inside the buckets
    the migration touched — the changelog MANIFEST carries the touched
    union (no data scan), the changelog read is pruned to it, and the
    rollback commit rewrites only those target buckets."""
    from mongo_bulk_data_migration_spark.plans.changelog import Changelog
    from mongo_bulk_data_migration_spark.sources.fixtures import CHANGES_SCHEMA

    cat = Catalog(warehouse)
    t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=16)
    rows = make_sequences(200)
    t.append(spark.createDataFrame(rows, SEQUENCES_SCHEMA))
    initial = rows_of(t.read(spark))

    # events confined to 6 specific docs -> a strict subset of the 16 buckets
    docs = sorted({r["doc_id"] for r in rows})[:6]
    ev = [
        dict(seq=i, part=0, op="update", doc_id=docs[i % len(docs)], tokens=None,
             transform="append_eos", source=None, extra=None)
        for i in range(30)
    ]
    rep = ChangeStreamReplayer(spark, warehouse, "seq", "prune", evolve_schema=False)
    ms = rep.apply_changes(spark.createDataFrame(ev, CHANGES_SCHEMA), events_per_batch=10)
    assert len(ms) == 3  # multi-batch

    cl = Changelog(cat, rep.config.rollback_table_name, t, "prune")
    touched = cl.touched_buckets()
    assert 0 < len(touched) < 16  # a strict subset, or the test proves nothing
    # the manifest union equals the buckets the docs hash into
    from mongo_bulk_data_migration_spark.sources.laketable import bucket_expr
    expect = sorted(
        r["b"] for r in spark.createDataFrame([(d,) for d in docs], "doc_id string")
        .select(bucket_expr("doc_id", 16).alias("b")).distinct().collect()
    )
    assert touched == expect

    # pruned changelog read: exactly the files in touched buckets (vacuous
    # equality in the per-migration layout, pinned so a layout change that
    # widens the scan fails loudly)
    cl_files = cl.table().snapshot().files
    assert {f["bucket"] for f in cl_files} == set(touched)

    # foreign commit forces the changelog path (not snapshot time travel)
    t.commit_marker({}, operation="foreign-touch")
    pre_rollback = {f["path"]: f for f in cat.load_table("seq").snapshot().files}
    rep.rollback()
    t2 = cat.load_table("seq")
    rewritten_buckets = {
        f["bucket"] for f in t2.snapshot().files if f["path"] not in pre_rollback
    }
    assert rewritten_buckets <= set(touched), (rewritten_buckets, touched)
    assert rows_of(t2.read(spark)) == initial


def test_direct_vs_staged_pending_parity(spark, warehouse, tmp_path):
    """Direct mode (no full-width pending scratch, the default) must match
    the staged-scratch path exactly: end state, metrics lineage, changelog."""
    import os

    wh2 = os.path.join(str(tmp_path), "wh_staged")
    cat_d, t_d, events, sim = setup_run(spark, warehouse)
    cat_s = Catalog(wh2)
    t_s = cat_s.create_table("seq", SEQUENCES_SCHEMA, num_buckets=8)
    t_s.append(spark.createDataFrame(make_sequences(N_DOCS), SEQUENCES_SCHEMA))

    rep_d = ChangeStreamReplayer(
        spark, warehouse, "seq", "sp",
        options=MigrationOptions(stage_pending=False),
    )
    rep_s = ChangeStreamReplayer(
        spark, wh2, "seq", "sp",
        options=MigrationOptions(stage_pending=True),
    )
    ev = changes_spark(spark, events)
    md = rep_d.apply_changes(ev, events_per_batch=PER_BATCH)
    ms = rep_s.apply_changes(ev, events_per_batch=PER_BATCH)

    assert rows_of(t_d.read(spark)) == rows_of(t_s.read(spark))
    keys = ("batch_id", "n_events", "n_parts", "part_hwm", "max_seq", "n_backups")
    assert [{k: m[k] for k in keys} for m in md] == [{k: m[k] for k in keys} for m in ms]
    cld = cat_d.load_table("_rollback_seq_sp").read(spark)
    cls = cat_s.load_table("_rollback_seq_sp").read(spark)
    assert rows_of(cld.drop("date")) == rows_of(cls.drop("date"))


def test_projection_backup_filter_replay_roundtrip(spark, warehouse):
    """VERDICT r5 #2: `projection_backup_filter` scopes the CDC changelog
    pre-image (P2 through the replayer).  Non-listed columns are stored NULL
    in the backup struct (smaller changelog writes); listed columns still
    rollback to their initial values."""
    cat, t, events, sim = setup_run(spark, warehouse)
    initial = {r["doc_id"]: r for r in rows_of(t.read(spark))}
    rep = ChangeStreamReplayer(
        spark, warehouse, "seq", "cdcP",
        options=MigrationOptions(projection_backup_filter=["tokens", "n_tok"]),
    )
    rep.apply_changes(changes_spark(spark, events), events_per_batch=PER_BATCH)

    cl = cat.load_table("_rollback_seq_cdcP")
    backups = rows_of(
        cl.read(spark).where((F.col("kind") == "backup") & F.col("matched"))
    )
    assert backups, "expected matched backups"
    assert all(b["backup"]["source"] is None for b in backups)
    assert any(b["backup"]["tokens"] is not None for b in backups)

    rep.rollback()
    after = {r["doc_id"]: r for r in rows_of(cat.load_table("seq").read(spark))}
    # every surviving initial key restores its backed-up columns exactly
    for k, row in after.items():
        if k in initial:
            assert row["tokens"] == initial[k]["tokens"], k
            assert row["n_tok"] == initial[k]["n_tok"], k
    # keys the migration inserted are gone again
    assert set(after) <= set(initial)
