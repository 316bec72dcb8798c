"""Compile once per window: a CDC replay's batches reuse generated code.

Spark caches generated classes by their Java source, and primitive literals
are inlined into that source.  A batch id, changelog date or MoR layer
sequence planned as a literal therefore made every batch compile (and the
JVM re-JIT) its own classes.  The replayer binds those values as data, so
from the third batch of a window on no Janino compile should run at all.
"""

import pytest
from pyspark.sql import functions as F

from mongo_bulk_data_migration_spark import Catalog
from mongo_bulk_data_migration_spark.sources.fixtures import (
    SEQUENCES_SCHEMA,
    changes_df,
    sequences_df,
)
from mongo_bulk_data_migration_spark.streaming import replay as replay_mod
from mongo_bulk_data_migration_spark.streaming.replay import ChangeStreamReplayer

PER_BATCH = 300
N_BATCHES = 6
# batch ids no other test replays, so a per-batch literal cannot hit
# classes an earlier test left in the cache
SEQ_BASE = 7_340_000 * PER_BATCH


def _compiles(spark) -> int:
    return int(
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount()
    )


def _setup(spark, tmp_path, mode):
    wh = str(tmp_path / "wh")
    t = Catalog(wh).create_table(
        "sequences", SEQUENCES_SCHEMA, num_buckets=8, properties={"merge_mode": mode}
    )
    t.append(sequences_df(spark, 300, parallelism=2))
    events = changes_df(spark, 300, N_BATCHES * PER_BATCH, n_parts=4, parallelism=2)
    events = events.withColumn("seq", F.col("seq") + F.lit(SEQ_BASE))
    return wh, events


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_replay_window_compiles_nothing_after_second_batch(spark, tmp_path, monkeypatch, mode):
    wh, events = _setup(spark, tmp_path, mode)
    per_batch: dict[int, int] = {}
    orig = ChangeStreamReplayer._apply_batch

    def counted(self, window, target, batch, batch_id, *a, **kw):
        c0 = _compiles(spark)
        out = orig(self, window, target, batch, batch_id, *a, **kw)
        per_batch[batch_id] = _compiles(spark) - c0
        return out

    monkeypatch.setattr(ChangeStreamReplayer, "_apply_batch", counted)
    rep = ChangeStreamReplayer(spark, wh, "sequences", f"codegen-{mode}", evolve_schema=False)
    ms = rep.apply_changes(events, events_per_batch=PER_BATCH)
    assert len(ms) == N_BATCHES
    ids = sorted(per_batch)
    later = {b: per_batch[b] for b in ids[2:]}
    assert sum(later.values()) == 0, f"batches >= 3 compiled classes: {per_batch}"
    # the metrics row reports the same process-wide count
    assert [m["codegen_compiles"] for m in ms] == [per_batch[b] for b in ids]


def _plan_text(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_replay_merge_plan_parses_dsl_once(spark, tmp_path, monkeypatch, mode):
    """The merge reads the prestage's parsed (name, arg) pair: no ``split``
    of the DSL string, and the token transform is planned once per row
    path, ``n_tok`` reading its result instead of re-evaluating it."""
    wh, events = _setup(spark, tmp_path, mode)
    plans = []
    orig = replay_mod.build_merge_plan

    def capture(*a, **kw):
        plan = orig(*a, **kw)
        plans.append((_plan_text(plan.result), _plan_text(plan.delta)))
        return plan

    monkeypatch.setattr(replay_mod, "build_merge_plan", capture)
    rep = ChangeStreamReplayer(spark, wh, "sequences", f"plan-{mode}", evolve_schema=False)
    rep.apply_changes(events.where(F.col("seq") < SEQ_BASE + PER_BATCH), events_per_batch=PER_BATCH)
    assert len(plans) == 1
    for text in plans[0]:
        assert "split(" not in text
        assert text.count("transform(") == 1, text
