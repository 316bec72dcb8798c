"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from perfbench import checks, inputs
from perfbench.trace import PER_LAYER, Span, self_time, write_task_skew
from perfbench.workloads import tail

N_DOCS, N_EVENTS = 400, 1200


def _digests(seed: int) -> list[str]:
    return [
        inputs.table_digest(inputs.sequences_table(N_DOCS, seed)),
        inputs.table_digest(inputs.changes_table(N_DOCS, N_EVENTS, seed)),
        *(inputs.table_digest(t) for t in inputs.suite_tables(seed, inputs.SuiteShape(
            lineitem=500, customers=30, orders=100, events=100, users=10,
            documents=20, embeddings=20)).values()),
    ]


def test_same_seed_gives_identical_inputs():
    assert _digests(7) == _digests(7)


def test_different_seed_gives_different_inputs():
    a, b = _digests(7), _digests(8)
    assert all(x != y for x, y in zip(a, b))


def test_change_log_keeps_the_changes_df_shape():
    ev = inputs.changes_table(N_DOCS, 20_000, seed=3).to_pylist()
    ops = [e["op"] for e in ev]
    idx = [int(e["doc_id"][3:]) for e in ev]
    # inserts are exactly the keys past the initial table, with full payloads
    for e, i in zip(ev, idx):
        assert (e["op"] == "insert") == (i >= N_DOCS)
        if e["op"] == "insert":
            assert len(e["tokens"]) == inputs.doc_lengths(np.array([i]), 3)[0]
    n_upd, n_del = ops.count("update"), ops.count("delete")
    assert 0.87 < n_upd / (n_upd + n_del) < 0.91
    # power-law keys: the lowest tenth of the id space draws most events
    assert sum(i < N_DOCS * 1.25 / 10 for i in idx) > 0.35 * len(idx)
    for e in ev:
        t = e["transform"]
        assert (t is not None) == (e["op"] == "update")
        if t is not None:
            name, _, arg = t.partition(":")
            assert name in inputs.TRANSFORMS
            assert (e["tokens"] is not None) == (name == "set_tokens")
            assert arg.isdigit() or name in ("append_eos", "set_tokens")


def _simulated_table(initial: pa.Table, events: pa.Table, epb: int) -> pa.Table:
    """The simulator's final state as an Arrow table (what a correct engine
    would leave behind)."""
    from collections import defaultdict

    from mongo_bulk_data_migration_spark.simulator import OracleSimulator

    sim = OracleSimulator(initial.to_pylist())
    batches = defaultdict(list)
    for e in events.to_pylist():
        batches[e["seq"] // epb].append(e)
    for b in sorted(batches):
        sim.apply_batch(batches[b], with_changelog=False)
    return pa.Table.from_pylist(sim.rows(), inputs.SEQUENCES_ARROW)


@pytest.fixture(scope="module")
def replayed():
    initial = inputs.sequences_table(N_DOCS, 5)
    events = inputs.changes_table(N_DOCS, N_EVENTS, 5)
    return initial, events, _simulated_table(initial, events, 400)


def test_reference_matches_a_full_simulation(replayed):
    initial, events, final = replayed
    want = checks.replay_reference(initial, events, 400)
    assert checks.arrow_digest(final) == want
    # the shallow list copy changes nothing the simulator computes
    assert checks.replay_reference(initial, events, 400, fast_copy=False) == want
    # the batch boundaries matter: one big batch collapses differently
    assert checks.replay_reference(initial, events, N_EVENTS) != want


def test_digest_ignores_row_order(replayed):
    _, _, final = replayed
    assert checks.arrow_digest(final) == checks.arrow_digest(final.take(np.arange(final.num_rows)[::-1]))


def _set_token(table: pa.Table, row: int, value: int) -> pa.Table:
    toks = table.column("tokens").to_pylist()
    toks[row] = [value] + toks[row][1:]
    return table.set_column(1, "tokens", pa.array(toks, table.schema.field("tokens").type))


@pytest.mark.parametrize("corrupt", [
    pytest.param(lambda t: _set_token(t, 3, t.column("tokens")[3].as_py()[0] + 1), id="one-token"),
    pytest.param(lambda t: t.slice(1), id="missing-row"),
    pytest.param(lambda t: pa.concat_tables([t, t.slice(0, 1)]), id="duplicate-row"),
    pytest.param(lambda t: t.set_column(3, "source", pc.if_else(
        pc.equal(pa.array(np.arange(t.num_rows)), 0), "other", t.column("source"))), id="one-source"),
])
def test_corrupted_table_is_caught(replayed, corrupt):
    initial, events, final = replayed
    want = checks.replay_reference(initial, events, 400)
    assert checks.arrow_digest(corrupt(final)) != want


def test_canonical_hash_is_order_free_and_value_sensitive():
    a = pd.DataFrame({"k": [2, 1], "v": [0.5, 0.25]})
    assert checks.canonical_hash(a) == checks.canonical_hash(a.iloc[::-1])
    assert checks.canonical_hash(a) != checks.canonical_hash(a.assign(v=[0.5, 0.26]))


def _span(sid: int, t0: float, t1: float) -> Span:
    sp = Span()
    sp.id, sp.name, sp.parent, sp.t0, sp.t1, sp.attrs = sid, "x", None, t0, t1, {}
    return sp


def test_self_time_subtracts_the_union_of_children():
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 4.0), _span(3, 2.0, 5.0), _span(4, 8.0, 12.0)]  # overlap, overrun
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 2.0)


def test_write_task_skew_groups_bytes_by_task_index():
    files = {"a/part-00000-x.c000.parquet": 10, "b/part-00000-y.c000.parquet": 10,
             "a/part-00001-x.c000.parquet": 10, "a/part-00002-x.c000.parquet": 60}
    assert write_task_skew(files) == pytest.approx(60 / 20)


def test_benchmark_json_declares_every_traced_metric():
    with open(os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER


def test_tail_needs_ten_samples_beyond_it():
    assert tail([1.0] * 10) == (None, None)
    pct, val = tail([float(i) for i in range(20)])
    assert pct == 50.0 and val == 9.0
