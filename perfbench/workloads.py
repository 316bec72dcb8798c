"""The benchmark's workloads.  All are closed loop: one driver thread, one
batch or query in flight, the next issued when the previous returns.

Each workload has four phases, driven by ``run.py``:

- ``warm_up()``: throw-away runs of the workload's own operation (a small
  replay or migration, or passes of the query suite) before any timing;
- ``prepare()``: generate the seeded inputs and load the initial table(s)
  (repeated during set-up; ``setup_s`` reports the median repeat);
- ``run(seconds, tracer)``: operations until ``seconds`` of operation time
  have passed (at least one);
- ``check()``: the correctness check, outside the timed window.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from mongo_bulk_data_migration_spark import (
    Catalog,
    DataMigrationConfig,
    LakeTable,
    MigrationOptions,
    MongoBulkDataMigrationSpark,
)
from mongo_bulk_data_migration_spark.sources.fixtures import CHANGES_SCHEMA, SEQUENCES_SCHEMA
from mongo_bulk_data_migration_spark.streaming.replay import ChangeStreamReplayer

from . import checks, inputs
from .trace import QUERY_NAMES, Tracer

NUM_BUCKETS = 8
TABLE = "sequences"


@dataclass
class Outcome:
    """What one measured window produced."""

    ops: int = 0
    op_time_s: float = 0.0
    items: int = 0                                    # events / rows / queries done
    item_time_s: float = 0.0                          # time the items took
    op_s: list[float] = field(default_factory=list)   # per-operation latency samples
    aux_s: list[float] = field(default_factory=list)  # secondary latency samples
    attempted: int = 0
    failed: int = 0
    detail: dict[str, Any] = field(default_factory=dict)


def tail(samples: list[float]) -> tuple[float | None, float | None]:
    """Highest percentile with at least ten samples beyond it (None when
    there are too few samples for any)."""
    n = len(samples)
    if n < 11:
        return None, None
    pct = 100.0 * (n - 10) / n
    return pct, sorted(samples)[n - 11]


class Workload:
    name = ""

    def __init__(self, spark, seed: int, work: str, cores: int, cache: checks.ReferenceCache):
        self.spark, self.seed, self.work, self.cores, self.cache = spark, seed, work, cores, cache
        self.out = Outcome()
        self._n_prepared = 0

    def _dir(self, *parts: str) -> str:
        return os.path.join(self.work, self.name, *parts)

    def prepare(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def run(self, seconds: float, tracer: Tracer | None) -> Outcome:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def tracer_dirs(self) -> dict[str, str]:
        return {}

    # helpers shared by the CDC workloads

    def _load_table(self, wh: str, initial_path: str, properties: dict | None = None) -> LakeTable:
        t = Catalog(wh).create_table(TABLE, SEQUENCES_SCHEMA, num_buckets=NUM_BUCKETS,
                                     properties=properties)
        t.append(self.spark.read.schema(SEQUENCES_SCHEMA).parquet(initial_path))
        return t

    def _events_df(self, path: str):
        return self.spark.read.schema(CHANGES_SCHEMA).parquet(path)

    def _table_arrow(self, t: LakeTable, version: int | None = None) -> pa.Table:
        return t.read(self.spark, version=version).select(*checks.DIGEST_COLS).toArrow()


def _scan(spark, t: LakeTable):
    """A downstream reader: one scan of the current snapshot plus an action."""
    return t.read(spark).agg(F.count(F.lit(1)), F.sum("n_tok")).collect()


# ---------------------------------------------------------------------------


class ReplayBulk(Workload):
    """A backlog replayed through one ``apply_changes`` call in a few large
    batches on a copy-on-write table; then a foreign writer commits new keys
    and the replayer's ``rollback()`` restores the table through the
    changelog (the foreign snapshot rules out the time-travel fast path)."""

    name = "replay_bulk"
    N_DOCS, N_EVENTS, N_BATCHES, FOREIGN = 8_000, 24_000, 2, 200
    MIGRATION = "bulk"

    def prepare(self) -> None:
        if self._n_prepared == 0:
            self.initial = inputs.sequences_table(self.N_DOCS, self.seed)
            self.events = inputs.changes_table(self.N_DOCS, self.N_EVENTS, self.seed)
            self.foreign = inputs.sequences_table(self.FOREIGN, self.seed, prefix="ext")
            self.initial_path = inputs.write_parquet(self.initial, self._dir("initial.parquet"))
            self.events_path = inputs.write_parquet(self.events, self._dir("events.parquet"))
            self.foreign_path = inputs.write_parquet(self.foreign, self._dir("foreign.parquet"), n_groups=1)
            self.tables: list[str] = []
        wh = self._dir(f"wh{self._n_prepared}")
        self._load_table(wh, self.initial_path)
        self.tables.append(wh)
        self._n_prepared += 1

    def _op(self, wh: str, events_path: str, epb: int, foreign_path: str):
        """Replay, foreign commit, rollback: returns the replay metrics, the
        two timings and the table version right after the replay."""
        rep = ChangeStreamReplayer(self.spark, wh, TABLE, self.MIGRATION, evolve_schema=False)
        t0 = time.perf_counter()
        ms = rep.apply_changes(self._events_df(events_path), events_per_batch=epb)
        replay_s = time.perf_counter() - t0
        t = LakeTable(Catalog(wh).path(TABLE))
        version = t.current_version()
        t.append(self.spark.read.schema(SEQUENCES_SCHEMA).parquet(foreign_path))
        t1 = time.perf_counter()
        rb = rep.rollback()
        return ms, replay_s, rb, time.perf_counter() - t1, version

    def warm_up(self) -> None:
        wh = self._dir("warm")
        ini = inputs.write_parquet(inputs.sequences_table(1000, self.seed + 1), self._dir("warm_initial.parquet"))
        ev = inputs.write_parquet(inputs.changes_table(1000, 2000, self.seed + 1), self._dir("warm_events.parquet"))
        fp = inputs.write_parquet(inputs.sequences_table(10, self.seed + 1, prefix="ext"),
                                  self._dir("warm_foreign.parquet"), n_groups=1)
        self._load_table(wh, ini)
        # two batches, as the measured replay has: the second batch of a call
        # takes code paths (HWM and changelog already present) the first does not
        self._op(wh, ev, 1000, fp)

    def _dirs(self, wh: str) -> dict[str, str]:
        return {"laketable": Catalog(wh).path(TABLE),
                "changelog": Catalog(wh).path(f"_rollback_{TABLE}_{self.MIGRATION}")}

    def tracer_dirs(self) -> dict[str, str]:
        return self._dirs(self.tables[0])

    def run(self, seconds: float, tracer: Tracer | None) -> Outcome:
        o = self.out
        epb = self.N_EVENTS // self.N_BATCHES
        self.replayed: list[tuple[str, int]] = []
        for wh in self.tables:  # one fresh table per operation
            if tracer is not None:
                tracer.dirs = self._dirs(wh)
            ms, replay_s, rb, rb_s, version = self._op(wh, self.events_path, epb, self.foreign_path)
            self.replayed.append((wh, version))
            o.ops += 1
            o.op_time_s += replay_s + rb_s
            o.item_time_s += replay_s
            o.items += sum(int(m["n_events"]) for m in ms)
            o.op_s += [float(m["wall_s"]) for m in ms]
            o.aux_s.append(rb_s)
            o.attempted += self.N_BATCHES + 1
            o.failed += self.N_BATCHES - len(ms) + (rb.get("ok") != 1)
            if o.op_time_s >= seconds:
                break
        o.detail = {
            "events_per_s": (o.items / o.item_time_s, "events/s"),
            "batch_s_p50": (statistics.median(o.op_s), "s"),
            "rollback_s": (statistics.median(o.aux_s), "s"),
        }
        return o

    def check(self) -> list[str]:
        """The snapshot right after the replay must equal the simulator; the
        restored table must equal the initial rows plus the foreign rows."""
        epb = self.N_EVENTS // self.N_BATCHES
        want = self.cache.get(
            f"{self.name}:{self.seed}:{self.N_DOCS}:{self.N_EVENTS}:{epb}",
            lambda: checks.replay_reference(self.initial, self.events, epb))
        restored = checks.arrow_digest(pa.concat_tables([self.initial, self.foreign]))
        bad = []
        for wh, version in self.replayed:
            t = LakeTable(Catalog(wh).path(TABLE))
            got = checks.arrow_digest(self._table_arrow(t, version))
            if got != want:
                bad.append(f"{wh}: replayed table {got} != simulator {want}")
            got = checks.arrow_digest(self._table_arrow(t))
            if got != restored:
                bad.append(f"{wh}: restored table {got} != initial + foreign rows {restored}")
        return bad


class ReplayTrickle(Workload):
    """A tailing consumer on a merge-on-read table: one ``apply_changes``
    call per small slice (one batch), then a downstream snapshot scan."""

    name = "replay_trickle"
    N_DOCS, SLICE, MAX_SLICES = 16_000, 800, 40
    # Delta layers folded once more than this many exist.  The package
    # default (8) would never fire within the handful of commits a
    # measured window holds, leaving compaction unmeasured.
    COMPACT_LAYERS = 3

    def prepare(self) -> None:
        if self._n_prepared == 0:
            self.initial = inputs.sequences_table(self.N_DOCS, self.seed)
            self.events = inputs.changes_table(self.N_DOCS, self.SLICE * self.MAX_SLICES, self.seed)
            self.initial_path = inputs.write_parquet(self.initial, self._dir("initial.parquet"))
            self.events_path = inputs.write_parquet(self.events, self._dir("events.parquet"))
        self.wh = self._dir(f"wh{self._n_prepared}")
        self._load_table(self.wh, self.initial_path, self._props())
        self._n_prepared += 1

    def _props(self) -> dict[str, Any]:
        return {"merge_mode": "mor", "auto_compact_layers": self.COMPACT_LAYERS}

    def warm_up(self) -> None:
        wh = self._dir("warm")
        ini = inputs.write_parquet(inputs.sequences_table(1000, self.seed + 1), self._dir("warm_initial.parquet"))
        evt = inputs.changes_table(1000, 400, self.seed + 1)
        ev = inputs.write_parquet(evt, self._dir("warm_events.parquet"))
        t = self._load_table(wh, ini, self._props())
        rep = ChangeStreamReplayer(self.spark, wh, TABLE, "warm", evolve_schema=False)
        df = self._events_df(ev)
        for lo in (0, 200):
            rep.apply_changes(df.where((F.col("seq") >= lo) & (F.col("seq") < lo + 200)), events_per_batch=200)
            _scan(self.spark, t)

    def tracer_dirs(self) -> dict[str, str]:
        return {"laketable": Catalog(self.wh).path(TABLE),
                "changelog": Catalog(self.wh).path(f"_rollback_{TABLE}_tail")}

    def run(self, seconds: float, tracer: Tracer | None) -> Outcome:
        o = self.out
        t = LakeTable(Catalog(self.wh).path(TABLE))
        rep = ChangeStreamReplayer(self.spark, self.wh, TABLE, "tail", evolve_schema=False)
        events = self._events_df(self.events_path)
        self.n_slices = 0
        for k in range(self.MAX_SLICES):
            lo = k * self.SLICE
            t0 = time.perf_counter()
            ms = rep.apply_changes(events.where((F.col("seq") >= lo) & (F.col("seq") < lo + self.SLICE)),
                                   events_per_batch=self.SLICE)
            dt = time.perf_counter() - t0
            self.n_slices += 1
            o.attempted += 1
            o.failed += 0 if len(ms) == 1 else 1
            o.items += sum(int(m["n_events"]) for m in ms)
            o.op_s.append(dt)
            tr = time.perf_counter()
            if tracer is not None:
                tracer.span("laketable.read", _scan, self.spark, t)
            else:
                _scan(self.spark, t)
            o.aux_s.append(time.perf_counter() - tr)
            o.ops += 1
            o.op_time_s += dt + o.aux_s[-1]
            if o.op_time_s >= seconds:
                break
        o.item_time_s = sum(o.op_s)
        pct, val = tail(o.op_s)
        o.detail = {
            "events_per_s": (o.items / o.item_time_s, "events/s"),
            "batch_s_p50": (statistics.median(o.op_s), "s"),
            "batch_s_tail": (val, "s", {"percentile": pct, "samples": len(o.op_s)}),
            "read_s_p50": (statistics.median(o.aux_s), "s"),
        }
        return o

    def check(self) -> list[str]:
        n = self.n_slices
        want = self.cache.get(
            f"{self.name}:{self.seed}:{self.N_DOCS}:{self.SLICE}:{n}",
            lambda: checks.replay_reference(self.initial, self.events.slice(0, n * self.SLICE), self.SLICE))
        got = checks.arrow_digest(self._table_arrow(LakeTable(Catalog(self.wh).path(TABLE))))
        return [] if got == want else [f"table {got} != simulator {want}"]


class MigrateRollback(Workload):
    """``update()`` applies a named transform to a key range in
    ``max_bulk_size`` batches; a foreign writer commits new keys; then
    ``rollback()`` restores through the changelog (the foreign snapshot
    rules out the time-travel fast path).  Cycles repeat on one table."""

    name = "migrate_rollback"
    N_DOCS, RANGE, MAX_BULK, FOREIGN, MAX_CYCLES = 12_000, 3_000, 1_500, 200, 8
    TRANSFORMS = ("append_eos", "remap_mod:301", "truncate:64", "drop_first_k:3")

    def prepare(self) -> None:
        if self._n_prepared == 0:
            self.initial = inputs.sequences_table(self.N_DOCS, self.seed)
            self.initial_path = inputs.write_parquet(self.initial, self._dir("initial.parquet"))
            self.foreign = [inputs.sequences_table(self.FOREIGN, self.seed, first_id=c * self.FOREIGN, prefix="ext")
                            for c in range(self.MAX_CYCLES)]
            self.foreign_paths = [inputs.write_parquet(f, self._dir(f"foreign{c}.parquet"), n_groups=1)
                                  for c, f in enumerate(self.foreign)]
            rng = np.random.default_rng([self.seed, 3])
            self.plan = [(int(rng.integers(0, self.N_DOCS - self.RANGE)),
                          self.TRANSFORMS[int(rng.integers(0, len(self.TRANSFORMS)))])
                         for _ in range(self.MAX_CYCLES)]
        self.wh = self._dir(f"wh{self._n_prepared}")
        self._load_table(self.wh, self.initial_path)
        self._n_prepared += 1

    def _cycle(self, wh: str, mig_id: str, lo: int, n: int, transform: str, foreign_path: str):
        cfg = DataMigrationConfig(
            warehouse=wh, collection_name=TABLE, id=mig_id, update=("transform", transform),
            query=f"doc_id >= 'doc{lo:08d}' AND doc_id < 'doc{lo + n:08d}'",
            options=MigrationOptions(max_bulk_size=self.MAX_BULK),
        )
        eng = MongoBulkDataMigrationSpark(self.spark, cfg)
        t0 = time.perf_counter()
        res = eng.update()
        upd = time.perf_counter() - t0
        LakeTable(Catalog(wh).path(TABLE)).append(self.spark.read.schema(SEQUENCES_SCHEMA).parquet(foreign_path))
        t1 = time.perf_counter()
        rb = eng.rollback()
        return res, upd, rb, time.perf_counter() - t1

    def warm_up(self) -> None:
        wh = self._dir("warm")
        ini = inputs.write_parquet(inputs.sequences_table(1000, self.seed + 1), self._dir("warm_initial.parquet"))
        fp = inputs.write_parquet(inputs.sequences_table(10, self.seed + 1, prefix="ext"),
                                  self._dir("warm_foreign.parquet"), n_groups=1)
        self._load_table(wh, ini)
        self._cycle(wh, "warm", 0, 400, "append_eos", fp)

    def tracer_dirs(self) -> dict[str, str]:
        return {"laketable": Catalog(self.wh).path(TABLE)}

    def run(self, seconds: float, tracer: Tracer | None) -> Outcome:
        o = self.out
        self.cycles = 0
        upd_s, rows = [], 0
        for c, (lo, transform) in enumerate(self.plan):
            res, upd, rb, rb_s = self._cycle(self.wh, f"mig{c}", lo, self.RANGE, transform, self.foreign_paths[c])
            self.cycles += 1
            o.attempted += 2
            o.failed += (res.get("ok") != 1) + (rb.get("ok") != 1)
            o.op_s += [float(b["wall_s"]) for b in res["batches"]]
            o.aux_s.append(rb_s)
            upd_s.append(upd)
            rows += self.RANGE
            o.ops += 1
            o.op_time_s += upd + rb_s
            if o.op_time_s >= seconds:
                break
        o.items, o.item_time_s = rows, sum(upd_s)
        o.detail = {
            "migrate_rows_per_s": (rows / o.item_time_s, "rows/s"),
            "batch_s_p50": (statistics.median(o.op_s), "s"),
            "rollback_s": (statistics.median(o.aux_s), "s"),
        }
        return o

    def check(self) -> list[str]:
        want = checks.arrow_digest(pa.concat_tables([self.initial, *self.foreign[: self.cycles]]))
        got = checks.arrow_digest(self._table_arrow(LakeTable(Catalog(self.wh).path(TABLE))))
        return [] if got == want else [f"restored table {got} != initial + foreign rows {want}"]


class QuerySuite(Workload):
    """The seven headline queries of ``__spark_entry__.queries()`` over
    seeded tables, each result collected to the driver."""

    name = "query_suite"
    # A pass takes 2-6 s with the host's load.  At least this many passes per
    # window keep the per-query medians stable, and with the benchmark's 5 s
    # window every run measures exactly this many, so a faster or slower host
    # does not change how many post-warm-up passes a figure averages over.
    MIN_PASSES = 5
    # The JVM keeps compiling Catalyst's planning code for several passes
    # after the cold one (on a 4-vCPU VM, CPU per pass falls from ~17 s in
    # the second pass to ~11 s in the fourth and ~8 s by the eighth); warm-up
    # runs the cold pass and two more, so the window starts past the steepest
    # part of that ramp without making set-up much longer.
    WARM_PASSES = 3

    def prepare(self) -> None:
        # always the same paths: __spark_entry__ caches each file's schema by
        # path, so the warm-up pass leaves the measured passes nothing to infer
        self.data = self._dir("data")
        for t, tbl in inputs.suite_tables(self.seed).items():
            inputs.write_parquet_parts(tbl, os.path.join(self.data, f"{t}.parquet"), self.cores)

    def _pass(self, qs, data: str, tracer: Tracer | None) -> dict[str, tuple[float, Any]]:
        res = {}
        for name in QUERY_NAMES:
            t0 = time.perf_counter()
            if tracer is not None:
                pdf = tracer.span(f"query.{name}", lambda n=name: qs[n](self.spark, data).toPandas())
            else:
                pdf = qs[name](self.spark, data).toPandas()
            res[name] = (time.perf_counter() - t0, pdf)
        return res

    def warm_up(self) -> None:
        import __spark_entry__ as entry

        self.prepare()
        for _ in range(self.WARM_PASSES):
            self._pass(entry.queries(), self.data, None)

    def run(self, seconds: float, tracer: Tracer | None) -> Outcome:
        import __spark_entry__ as entry

        o = self.out
        qs = entry.queries()
        per_query: dict[str, list[float]] = {n: [] for n in QUERY_NAMES}
        while True:
            res = self._pass(qs, self.data, tracer)
            for n, (dt, _) in res.items():
                per_query[n].append(dt)
            total = sum(dt for dt, _ in res.values())
            o.op_s.append(total)
            o.ops += 1
            o.op_time_s += total
            o.attempted += len(res)
            if o.op_time_s >= seconds and o.ops >= self.MIN_PASSES:
                break
        # throughput over a pass made of each query's median time, so one slow
        # query in one pass does not move it
        o.items = len(per_query)
        o.item_time_s = sum(statistics.median(v) for v in per_query.values())
        # the median query: the median over queries of each one's median
        o.aux_s = [statistics.median(statistics.median(v) for v in per_query.values())]
        self.results = {n: pdf for n, (_, pdf) in res.items()}
        o.detail = {"query_suite_s": (statistics.median(o.op_s), "s")}
        o.detail.update({f"query.{n}_s": (statistics.median(v), "s") for n, v in per_query.items()})
        return o

    def check(self) -> list[str]:
        import duckdb

        import __spark_entry__ as entry

        oracle = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.data)):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(self.data, f)}/*.parquet')")
            bad = []
            for n, pdf in self.results.items():
                want = checks.canonical_hash(con.execute(oracle[n]).df())
                got = checks.canonical_hash(pdf)
                if got != want:
                    bad.append(f"{n}: spark {got} != duckdb {want}")
            return bad
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (ReplayBulk, ReplayTrickle, MigrateRollback, QuerySuite)}
