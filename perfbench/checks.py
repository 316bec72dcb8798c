"""Correctness checks, run outside every timed window.

- Replay workloads: an order-independent digest of the final table
  (``doc_id``, ``tokens``, ``n_tok``, ``source``) must equal the digest of
  ``OracleSimulator`` applied to the same events with the same batch
  boundaries.
- ``migrate_rollback``: the restored table must equal the initial rows plus
  the rows the foreign writer committed.
- ``query_suite``: each query must equal its ``oracle_sql()`` DuckDB result
  under the canonicaliser of ``jobs/driver_sim.py`` (sort by every column,
  hash values with floats rounded to 6 places).
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from mongo_bulk_data_migration_spark.simulator import OracleSimulator

DIGEST_COLS = ("doc_id", "tokens", "n_tok", "source")
_M64 = (1 << 64) - 1


def _row_hash(doc_id: str, tokens: Any, n_tok: Any, source: Any) -> int:
    h = hashlib.blake2b(digest_size=8)
    h.update(doc_id.encode())
    h.update(b"\x00")
    if tokens is None:
        h.update(b"N")
    else:
        h.update(np.asarray(tokens, dtype=np.int32).tobytes())
    h.update(f"\x00{n_tok}\x00{source}".encode())
    return int.from_bytes(h.digest(), "little")


class Digest:
    """Multiset digest: row count plus the sum of 64-bit row hashes (mod
    2^64), so it does not depend on row order."""

    def __init__(self, n: int = 0, total: int = 0):
        self.n, self.total = n, total

    def add(self, row_hash: int) -> None:
        self.n += 1
        self.total = (self.total + row_hash) & _M64

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Digest) and (self.n, self.total) == (other.n, other.total)

    def __repr__(self) -> str:
        return f"Digest(n={self.n}, total={self.total:016x})"


def arrow_row_hashes(table: pa.Table) -> list[tuple[str, int]]:
    """(doc_id, row hash) for every row of an Arrow table with the digest
    columns, duplicates included."""
    t = table.select(list(DIGEST_COLS)).combine_chunks()
    col = t.column("tokens")
    toks = col.chunk(0) if col.num_chunks else pa.array([], col.type)
    offsets = toks.offsets.to_numpy()
    values = toks.values.to_numpy(zero_copy_only=False).astype(np.int32)
    valid = toks.is_valid().to_numpy(zero_copy_only=False)
    ids = t.column("doc_id").to_pylist()
    n_tok = t.column("n_tok").to_pylist()
    source = t.column("source").to_pylist()
    return [
        (k, _row_hash(k, values[offsets[i]:offsets[i + 1]] if valid[i] else None,
                      n_tok[i], source[i]))
        for i, k in enumerate(ids)
    ]


def arrow_digest(table: pa.Table) -> Digest:
    d = Digest()
    for _, h in arrow_row_hashes(table):
        d.add(h)
    return d


@contextmanager
def shallow_list_copies():
    """Make ``copy.deepcopy`` copy lists shallowly while the simulator runs.

    The simulator deep-copies rows whose only mutable values are token lists
    of ints, so a shallow list copy is the same copy; it is ~10x faster, which
    is what lets the reference run inside a benchmark run.  The benchmark
    tests pin equal results with and without it."""
    prev = copy._deepcopy_dispatch[list]
    copy._deepcopy_dispatch[list] = lambda x, memo, *_: list(x)
    try:
        yield
    finally:
        copy._deepcopy_dispatch[list] = prev


def replay_reference(initial: pa.Table, events: pa.Table, events_per_batch: int,
                     n_batches: int | None = None, fast_copy: bool = True) -> Digest:
    """Digest of ``OracleSimulator`` after replaying ``events`` in
    ``seq // events_per_batch`` batches (the first ``n_batches`` of them).

    Only keys some event touches go through the simulator; every other row
    of the initial table is unchanged by definition and enters the digest
    straight from ``initial``."""
    batches: dict[int, list[dict[str, Any]]] = defaultdict(list)
    for e in events.to_pylist():
        batches[e["seq"] // events_per_batch].append(e)
    order = sorted(batches)[:n_batches] if n_batches is not None else sorted(batches)
    touched = {e["doc_id"] for b in order for e in batches[b]}
    rows = initial.select(list(DIGEST_COLS)).filter(
        pc.is_in(initial.column("doc_id"), value_set=pa.array(sorted(touched), pa.string()))
    ).to_pylist()
    with shallow_list_copies() if fast_copy else nullcontext():
        sim = OracleSimulator(rows)
        for b in order:
            sim.apply_batch(batches[b], with_changelog=False)
    d = Digest()
    for k, h in arrow_row_hashes(initial):
        if k not in touched:
            d.add(h)
    for r in sim.rows():
        d.add(_row_hash(r["doc_id"], r["tokens"], r["n_tok"], r["source"]))
    return d


class ReferenceCache:
    """Reference digests cached per key in the checkout, so a repeated
    (workload, seed, shape) skips the simulator."""

    def __init__(self, root: str):
        self.root = root

    def get(self, key: str, compute) -> Digest:
        path = os.path.join(self.root, hashlib.sha256(key.encode()).hexdigest()[:24] + ".json")
        if os.path.exists(path):
            with open(path) as f:
                n, total = json.load(f)
            return Digest(n, total)
        d = compute()
        os.makedirs(self.root, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump([d.n, d.total], f)
        os.replace(tmp, path)
        return d


def canonical_hash(df) -> str:
    """Sort a pandas frame by all (sorted) columns and hash its values with
    floats rounded to 6 places: the canonicaliser of jobs/driver_sim.py,
    which starts a Spark session at import and so cannot be imported."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    h = hashlib.sha256()
    for col in df.columns:
        for v in df[col]:
            if isinstance(v, float):
                v = round(v, 6)
            h.update(repr(v).encode())
    return f"{len(df)}:{','.join(df.columns)}:{h.hexdigest()[:16]}"
