"""Property-based CDC correctness: hypothesis-generated event histories.

The deterministic fixtures pin known-interesting orderings; this suite lets
hypothesis search for adversarial ones (insert-over-existing, delete→insert→
delete chains, updates racing deletes across the batch boundary, transform
arguments at the edge) and asserts the engine's table state — and its
rollback — match the pure-Python oracle simulator event-for-event.

Between the replay and the rollback a drawn history may add a foreign
``LakeTable.append``: brand-new keys (rollback time-travels and keeps them)
or a re-creation of a key the migration deleted (rollback must take the
changelog path and keep the foreign row).

Runtime is bounded: few, small examples (a Spark round-trip per example);
the value is the ORDERING coverage, not volume.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from mongo_bulk_data_migration_spark import Catalog
from mongo_bulk_data_migration_spark.simulator import OracleSimulator
from mongo_bulk_data_migration_spark.sources.fixtures import (
    SEQUENCES_SCHEMA,
    changes_spark,
    make_sequences,
    stable_hash,
)
from mongo_bulk_data_migration_spark.streaming.replay import ChangeStreamReplayer

from conftest import rows_of


@st.composite
def scenarios(draw):
    n_docs = draw(st.integers(min_value=2, max_value=6))
    n_events = draw(st.integers(min_value=4, max_value=24))
    id_space = n_docs + 3  # a few never-seen keys for insert/unmatched paths
    events = []
    for seq in range(n_events):
        idx = draw(st.integers(min_value=0, max_value=id_space - 1))
        doc_id = f"doc{idx:08d}"
        op = draw(st.sampled_from(["insert", "update", "delete"]))
        tokens = transform = source = None
        if op == "insert":
            tokens = draw(st.lists(st.integers(0, 50256), min_size=0, max_size=5))
        elif op == "update":
            tname = draw(
                st.sampled_from(
                    ["append_eos", "drop_first_k", "remap_mod", "set_tokens", "truncate"]
                )
            )
            if tname == "set_tokens":
                tokens = draw(st.lists(st.integers(0, 50256), min_size=0, max_size=5))
                transform = "set_tokens"
            elif tname in ("drop_first_k", "truncate"):
                transform = f"{tname}:{draw(st.integers(1, 8))}"
            elif tname == "remap_mod":
                transform = f"remap_mod:{draw(st.integers(1, 9)) * 100 + 1}"
            else:
                transform = "append_eos"
            if draw(st.booleans()):
                source = draw(st.sampled_from(["web", "books", "code", "wiki"]))
        events.append(_event(seq, op, doc_id, tokens, transform, source))
    foreign = draw(st.sampled_from(FOREIGN_MODES))
    if foreign == "recreate":
        # guarantee a key the migration deleted: a final delete of an
        # initial doc
        events.append(_event(n_events, "delete", "doc00000000"))
    return n_docs, events, foreign


# what a foreign writer appends between replay and rollback
FOREIGN_MODES = ("none", "new", "recreate")


def _event(seq, op, doc_id, tokens=None, transform=None, source=None):
    return {
        "seq": seq, "part": stable_hash(doc_id) % 4, "op": op, "doc_id": doc_id,
        "tokens": tokens, "transform": transform, "source": source, "extra": None,
    }


def _foreign_row(sim, foreign):
    """The row the foreign writer appends, or None: a brand-new key, or a
    re-creation of a key the migration deleted (logged, now absent)."""
    if foreign == "new":
        return {"doc_id": "ext00000000", "tokens": [5, 6], "n_tok": 2, "source": "foreign"}
    if foreign == "recreate":
        k = min(k for k in sim.changelog if k not in sim.state)
        return {"doc_id": k, "tokens": [7], "n_tok": 1, "source": "foreign"}
    return None


# one fixed history per foreign mode that appends, so every run covers both
_EXAMPLE_EVENTS = [
    _event(0, "update", "doc00000000", transform="append_eos", source="web"),
    _event(1, "insert", "doc00000004", tokens=[1, 2]),
    _event(2, "update", "doc00000001", transform="truncate:2"),
    _event(3, "delete", "doc00000002"),
]


def _compare(got_rows, want_rows):
    got = {r["doc_id"]: r for r in got_rows}
    want = {r["doc_id"]: r for r in want_rows}
    assert set(got) == set(want), f"key sets differ: {set(got) ^ set(want)}"
    for k, w in want.items():
        g = got[k]
        assert g["tokens"] == w["tokens"], f"tokens mismatch for {k}"
        assert g["n_tok"] == w["n_tok"], f"n_tok mismatch for {k}"
        assert g.get("source") == w.get("source"), f"source mismatch for {k}"


@pytest.mark.parametrize("dummy", [0])  # keep pytest collection flat
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=scenarios())
@example(data=(3, _EXAMPLE_EVENTS, "new"))
@example(data=(3, _EXAMPLE_EVENTS + [_event(4, "delete", "doc00000000")], "recreate"))
def test_replay_and_rollback_match_simulator(spark, dummy, data):
    n_docs, events, foreign = data
    per_batch = max(len(events) // 2, 1)  # 2 micro-batches

    wh = tempfile.mkdtemp(prefix="mbdm_prop_")
    try:
        cat = Catalog(wh)
        t = cat.create_table("seq", SEQUENCES_SCHEMA, num_buckets=4)
        rows = make_sequences(n_docs)
        t.append(spark.createDataFrame(rows, SEQUENCES_SCHEMA))
        sim = OracleSimulator(rows)

        rep = ChangeStreamReplayer(spark, wh, "seq", "prop", evolve_schema=False)
        rep.apply_changes(changes_spark(spark, events), events_per_batch=per_batch)
        for b in range((max(e["seq"] for e in events) // per_batch) + 1):
            sim.apply_batch([e for e in events if e["seq"] // per_batch == b])
        _compare(rows_of(t.read(spark)), sim.rows())

        row = _foreign_row(sim, foreign)
        if row is not None:
            t.append(spark.createDataFrame([row], SEQUENCES_SCHEMA))
            sim.state[row["doc_id"]] = row
        res = rep.rollback()
        # time travel iff no appended key is one the migration logged
        fast = row is None or row["doc_id"] not in sim.changelog
        assert [b["mode"] for b in res["batches"]] == [
            "snapshot-time-travel" if fast else "changelog"
        ]
        sim.rollback()
        _compare(rows_of(cat.load_table("seq").read(spark)), sim.rows())
    finally:
        shutil.rmtree(wh, ignore_errors=True)
