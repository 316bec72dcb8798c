"""Seeded input generators for the benchmark.

Everything the engine receives is generated here from ``--seed`` and written
to parquet under the run's work directory; the engine only ever sees the
DataFrames read back from those files.  The seed is mixed into every hash,
so two seeds give unrelated tables, and one seed always gives the same bytes.

Shapes follow ``sources.fixtures.changes_df`` / ``make_changes``:

- initial ``sequences`` table: ``doc%08d`` keys, 1..512-token arrays;
- change log: power-law keys over an id space 1.25x the table (keys past the
  table are inserts of new ids with full-width token payloads), updates vs
  deletes split 89/11, updates carry one transform of the DSL
  (``append_eos``, ``drop_first_k:k``, ``remap_mod:m``, ``set_tokens`` with a
  payload, ``truncate:k``) and 10% of them also set ``source``;
- query-suite tables with the columns the seven headline queries read.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
MIX = 2654435761
SOURCES = ("web", "books", "code", "wiki")
TRANSFORMS = ("append_eos", "drop_first_k", "remap_mod", "set_tokens", "truncate")
SKEW = 2.5  # key index = floor(id_space * u**SKEW), as in changes_df

SEQUENCES_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
])

CHANGES_ARROW = pa.schema([
    ("seq", pa.int64()),
    ("part", pa.int32()),
    ("op", pa.string()),
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("transform", pa.string()),
    ("source", pa.string()),
    ("extra", pa.string()),
])

_M64 = (1 << 64) - 1


def _key(seed: int, salt: int) -> np.uint64:
    """Per-(seed, salt) 64-bit key: splitmix64 of the pair."""
    z = (seed * 0x9E3779B97F4A7C15 + salt * 0xD1B54A32D192ED03 + 1) & _M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    return np.uint64(z ^ (z >> 31))


def mix(x: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """Seeded splitmix64 finaliser over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) ^ _key(seed, salt)
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _unit(x: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """Uniform [0, 1) doubles from the top 53 bits of the seeded hash."""
    return (mix(x, seed, salt) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def doc_ids(idx: np.ndarray, prefix: str = "doc") -> pa.Array:
    return pa.array([f"{prefix}{int(i):08d}" for i in idx], pa.string())


def doc_lengths(idx: np.ndarray, seed: int) -> np.ndarray:
    return (1 + mix(idx, seed, 1) % np.uint64(512)).astype(np.int64)


def token_values(idx: np.ndarray, lengths: np.ndarray, seed: int) -> np.ndarray:
    """Flat token values: ``(h(doc) + j * MIX) % VOCAB`` for j < length."""
    total = int(lengths.sum())
    starts = np.repeat(np.cumsum(lengths) - lengths, lengths)
    j = (np.arange(total, dtype=np.int64) - starts).astype(np.uint64)
    base = np.repeat(mix(idx, seed, 2), lengths)
    with np.errstate(over="ignore"):
        return ((base + j * np.uint64(MIX)) % np.uint64(VOCAB)).astype(np.int32)


def _list_array(lengths: np.ndarray, values: np.ndarray, valid: np.ndarray | None = None) -> pa.Array:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    mask = None if valid is None else pa.array(~valid)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values, pa.int32()), mask=mask)


def sequences_table(n_docs: int, seed: int, first_id: int = 0, prefix: str = "doc") -> pa.Table:
    """The initial table: ``n_docs`` rows keyed ``<prefix>%08d`` from ``first_id``."""
    idx = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    lengths = doc_lengths(idx, seed)
    src = np.array(SOURCES, dtype=object)[(mix(idx, seed, 3) % np.uint64(4)).astype(np.int64)]
    return pa.Table.from_arrays(
        [
            doc_ids(idx, prefix),
            _list_array(lengths, token_values(idx, lengths, seed)),
            pa.array(lengths.astype(np.int32)),
            pa.array(list(src), pa.string()),
        ],
        schema=SEQUENCES_ARROW,
    )


def changes_table(n_docs: int, n_events: int, seed: int, n_parts: int = 8, first_seq: int = 0) -> pa.Table:
    """Seeded oplog of ``n_events`` events with ``seq`` from ``first_seq``."""
    seq = np.arange(first_seq, first_seq + n_events, dtype=np.int64)
    id_space = max(int(n_docs * 1.25), n_docs + 1)
    idx = np.floor(id_space * _unit(seq, seed, 10) ** SKEW).astype(np.int64)
    is_ins = idx >= n_docs
    is_upd = ~is_ins & ((mix(seq, seed, 11) % np.uint64(100)) < np.uint64(89))
    t = (mix(seq, seed, 12) % np.uint64(5)).astype(np.int64)
    arg = (1 + mix(seq, seed, 13) % np.uint64(8)).astype(np.int64)
    set_src = is_upd & ((mix(seq, seed, 15) % np.uint64(10)) == np.uint64(0))

    op = np.where(is_ins, "insert", np.where(is_upd, "update", "delete")).astype(object)
    names = np.array(TRANSFORMS, dtype=object)[t]
    args = np.where(t == 2, arg * 100 + 1, arg).astype(str).astype(object)
    transform = np.where(t == 0, "append_eos", np.where(t == 3, "set_tokens", names + ":" + args))
    transform = np.where(is_upd, transform, None)
    is_set = is_upd & (t == 3)

    # payloads: full-width tokens for inserts, the first 1+arg tokens for set_tokens
    full = doc_lengths(idx, seed)
    has_payload = is_ins | is_set
    lengths = np.where(is_ins, full, np.where(is_set, np.minimum(arg + 1, full), 0))
    values = token_values(idx, lengths, seed)
    source = np.where(set_src, np.array(SOURCES, dtype=object)[arg % 4], None)
    return pa.Table.from_arrays(
        [
            pa.array(seq),
            pa.array((mix(idx, seed, 14) % np.uint64(n_parts)).astype(np.int32)),
            pa.array(list(op), pa.string()),
            doc_ids(idx),
            _list_array(lengths, values, has_payload),
            pa.array(list(transform), pa.string()),
            pa.array(list(source), pa.string()),
            pa.nulls(n_events, pa.string()),
        ],
        schema=CHANGES_ARROW,
    )


def table_digest(table: pa.Table) -> str:
    """Content digest of an Arrow table (column order and row order matter)."""
    h = hashlib.sha256()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table.combine_chunks())
    h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write_parquet(table: pa.Table, path: str, n_groups: int = 8) -> str:
    """One uncompressed file, split into ``n_groups`` row groups so Spark
    reads it with that many parallel tasks."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rows = max(table.num_rows // max(n_groups, 1), 1)
    pq.write_table(table, path, compression="none", row_group_size=rows)
    return path


def write_parquet_parts(table: pa.Table, path: str, n_files: int) -> str:
    """A directory of ``n_files`` uncompressed files.  Spark packs small
    files into one task only up to its 4 MB open cost, so a table of a few
    MB in one file is scanned by a single task whatever its row groups; one
    file per core gives every scan one task per core."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="none")
    return path


# ---------------------------------------------------------------------------
# query-suite tables (the columns tpch_q1, lookup_join, last_wins,
# dedup_exact, minhash_bands, text_quality and ann_bruteforce read)
# ---------------------------------------------------------------------------

_WORDS = (
    "the and of to a in is that data table merge batch change stream event key "
    "value token rollback backup commit snapshot schema record index bucket "
    "layer query write read scan join filter group order sort hash shard "
    "replica cluster driver worker task stage job plan cost"
).split()
_PUNCT = (".", ",", ";", ":", "!", "?", "")


@dataclass(frozen=True)
class SuiteShape:
    lineitem: int = 120_000
    customers: int = 3_000
    orders: int = 30_000
    events: int = 40_000
    users: int = 2_000
    documents: int = 400
    embeddings: int = 2_000
    dim: int = 32


def suite_tables(seed: int, shape: SuiteShape = SuiteShape()) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7])
    n = shape.lineitem
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(1, shape.orders + 1, n)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(list(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n)]), pa.string()),
        "l_linestatus": pa.array(list(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n)]), pa.string()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, shape.customers + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, shape.customers + 1)]),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, shape.customers), 2)),
    })
    no = shape.orders
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, no + 1, dtype=np.int64)),
        # every third customer has no orders, as in TPC-H
        "o_custkey": pa.array((rng.integers(0, shape.customers // 3 * 2, no) // 2 * 3 + 1
                               + rng.integers(0, 2, no)).astype(np.int64)),
        "o_totalprice": pa.array(np.round(rng.uniform(850, 500_000, no), 2)),
    })
    ne = shape.events
    events = pa.table({
        "event_id": pa.array(rng.permutation(ne).astype(np.int64)),
        "user_id": pa.array(rng.integers(0, shape.users, ne)),
        "event_type": pa.array(list(np.array(["view", "click", "buy", "share"], dtype=object)[rng.integers(0, 4, ne)]), pa.string()),
        "value": pa.array(np.round(rng.uniform(0, 100, ne), 3)),
    })
    documents = pa.table({
        "doc_id": pa.array(np.arange(shape.documents, dtype=np.int64)),
        "text": pa.array(_texts(rng, shape.documents), pa.string()),
    })
    ndim = shape.dim
    emb = rng.standard_normal((shape.embeddings, ndim)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(shape.embeddings, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (shape.embeddings + 1) * ndim, ndim, dtype=np.int32)),
            pa.array(emb.ravel())),
        "label": pa.array(rng.integers(0, 10, shape.embeddings).astype(np.int32)),
    })
    return {"lineitem": lineitem, "customer": customer, "orders": orders,
            "events": events, "documents": documents, "embeddings": embeddings}


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Word soup with punctuation; every tenth document re-spaces and
    re-cases an earlier one, so ``dedup_exact`` finds duplicate groups."""
    out: list[str] = []
    for i in range(n):
        if i % 10 == 9:
            src = out[int(rng.integers(0, i))]
            out.append("  " + src.upper().replace(" ", "   ") + " ")
            continue
        k = int(rng.integers(4, 24))
        words = np.array(_WORDS, dtype=object)[rng.integers(0, len(_WORDS), k)]
        punct = np.array(_PUNCT, dtype=object)[rng.integers(0, len(_PUNCT), k)]
        out.append(" ".join(w + p for w, p in zip(words, punct)))
    return out
