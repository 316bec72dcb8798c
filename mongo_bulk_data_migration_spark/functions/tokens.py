"""Vectorized token-array transforms — the update-callback surface (M4).

The reference's ``update: (doc) => UpdateFilter`` is a per-row JS callback
with bounded async concurrency (``/root/reference/src/MongoBulkDataMigration.ts:274-302``,
pLimit default 10 at ``:63,156``).  Re-expressed columnar, it has two tiers:

1. **Named transforms** (the fixture DSL of FIXTURES.md T2) compiled to
   built-in JVM-side expressions — zero Python in the hot path.  This is the
   default for the 10^10-event replay.  Not all of them are whole-stage
   codegen'd: ``remap_mod``'s per-token lambda is an ``ArrayTransform``, a
   ``CodegenFallback``, so the ``Project`` holding :func:`transform_expr`
   leaves whole-stage codegen and runs as a generated unsafe projection
   that evaluates the lambda interpreted.  Hence the lambda reads only a
   bound column (the parsed arg), never the DSL string.
2. **Arbitrary user callbacks** as Arrow-vectorized pandas UDFs
   (:func:`pandas_transform_udf`) — never row-at-a-time Python.

Named transform DSL (``transform`` column of a change event):

    append_eos            tokens ++ [50256]
    drop_first_k:<k>      tokens[k:]
    remap_mod:<m>         [t % m for t in tokens]
    set_tokens            replace with the event's ``tokens`` payload
    truncate:<k>          tokens[:k]

``n_tok`` is always maintained as ``size(tokens)`` (T1 invariant).
"""

from __future__ import annotations

from typing import Callable, Iterable

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

EOS_TOKEN = 50256

TRANSFORMS = ("append_eos", "drop_first_k", "remap_mod", "set_tokens", "truncate")


def transform_expr(
    cur_tokens: Column, transform_name: Column, transform_arg: Column, event_tokens: Column
) -> Column:
    """New token array for a single event, as one JVM-side expression tree.

    ``cur_tokens``: the pre-event array (from the target row);
    ``transform_name``/``transform_arg``: the parsed DSL
    (:func:`parse_transform`; a NULL name is a no-op);
    ``event_tokens``: the event's payload array (for set_tokens / insert).
    Pass bound columns for name and arg: ``remap_mod``'s lambda evaluates
    ``transform_arg`` once per token.
    """
    k = transform_arg
    return (
        F.when(transform_name == "append_eos", F.concat(cur_tokens, F.array(F.lit(EOS_TOKEN).cast("int"))))
        .when(
            transform_name == "drop_first_k",
            # least(): k + 1 must not overflow int for k = 2^31 - 1 (ANSI)
            F.slice(
                cur_tokens,
                F.least(k, F.size(cur_tokens)) + F.lit(1),
                F.greatest(F.size(cur_tokens) - k, F.lit(0)),
            ),
        )
        .when(transform_name == "remap_mod", F.transform(cur_tokens, lambda t: F.pmod(t, k).cast("int")))
        .when(transform_name == "set_tokens", event_tokens)
        .when(transform_name == "truncate", F.slice(cur_tokens, F.lit(1), k))
        .otherwise(cur_tokens)
    )


def parse_transform(col: Column) -> tuple[Column, Column]:
    """Parse ``'drop_first_k:7'`` -> (name, int arg), one codegen'd string
    pass per event.  The name is NULL unless the whole string is in the DSL
    grammar with an argument the transform accepts: a non-negative int32
    for ``drop_first_k``/``truncate``, a positive one for ``remap_mod``, none
    for ``append_eos``/``set_tokens``.  A NULL name makes
    :func:`transform_expr` a no-op, so no argument can fail the batch
    (division by zero, int overflow) under ANSI mode."""
    sep = F.instr(col, ":")
    head = F.substring_index(col, ":", 1)
    rest = col.substr(sep + F.lit(1), F.length(col))
    arg = F.when((sep > 0) & rest.rlike("^[0-9]+$"), rest.try_cast("int"))
    ok = (
        (head.isin("append_eos", "set_tokens") & (sep == 0))
        | (head.isin("drop_first_k", "truncate") & arg.isNotNull())
        | ((head == "remap_mod") & (arg >= 1))
    )
    return F.when(ok, head), arg


def apply_token_transform(
    df: DataFrame,
    tokens_col: str = "tokens",
    transform_col: str = "transform",
    event_tokens_col: str = "__event_tokens",
    out_col: str = "tokens",
) -> DataFrame:
    """Apply the per-row named transform; keeps ``n_tok = size(tokens)``."""
    name, arg = parse_transform(F.col(transform_col))
    new_tokens = transform_expr(F.col(tokens_col), name, arg, F.col(event_tokens_col))
    df = df.withColumn(out_col, new_tokens.cast(T.ArrayType(T.IntegerType())))
    return df.withColumn("n_tok", F.size(F.col(out_col)).cast("int"))


# ---------------------------------------------------------------------------
# Fill-in-middle (FIM) split: deterministic prefix/middle/suffix cut points.
# ---------------------------------------------------------------------------


def _md5_long(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def fim_split(tokens: Column, key: Column) -> dict[str, Column]:
    """Fill-in-middle training split: two cut points 0 <= c1 <= c2 <= n
    derived from the document key's md5 (NOT from a random source — the
    split must be a pure function of the key so replays, resumes, and
    cluster-size changes reproduce the exact same training example; same
    determinism contract as functions/sampling.py).

    Returns the three segments as columns: ``prefix = tokens[:c1]``,
    ``middle = tokens[c1:c2]``, ``suffix = tokens[c2:]``.  Pure per-row
    higher-order expressions — codegen'd, zero shuffle, embarrassingly
    parallel at 100 TB.
    """
    n = F.size(tokens)
    c1 = _md5_long(F.concat(key, F.lit(":f1"))) % (n + F.lit(1))
    c2 = c1 + _md5_long(F.concat(key, F.lit(":f2"))) % (n - c1 + F.lit(1))
    return {
        "prefix": F.slice(tokens, F.lit(1), c1),
        "middle": F.slice(tokens, c1 + F.lit(1), c2 - c1),
        "suffix": F.slice(tokens, c2 + F.lit(1), n - c2),
    }


# ---------------------------------------------------------------------------
# Arbitrary-callback tier: Arrow-vectorized, analogous to M4's async callback.
# ---------------------------------------------------------------------------


def pandas_transform_udf(fn: Callable[[pd.Series], pd.Series]):
    """Wrap a whole-column (pandas Series of lists) token transform as an
    Arrow-vectorized UDF — the no-per-row-Python M4 surface.

    Example::

        @_as_udf
        def drop_pii(tokens: pd.Series) -> pd.Series:
            return tokens.map(lambda a: [t for t in a if t != BAD])
    """

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _udf(s: pd.Series) -> pd.Series:
        return fn(s)

    return _udf


def reference_transforms_pandas() -> dict[str, Callable[[pd.Series], pd.Series]]:
    """pandas twins of the named DSL — used by tests to cross-check the
    JVM expressions, and as templates for user callbacks."""
    import numpy as np

    def _append_eos(s: pd.Series) -> pd.Series:
        return s.map(lambda a: np.append(np.asarray(a, dtype=np.int32), np.int32(EOS_TOKEN)))

    def _drop_first(k: int):
        return lambda s: s.map(lambda a: np.asarray(a, dtype=np.int32)[k:])

    def _remap_mod(m: int):
        return lambda s: s.map(lambda a: np.asarray(a, dtype=np.int32) % np.int32(m))

    def _truncate(k: int):
        return lambda s: s.map(lambda a: np.asarray(a, dtype=np.int32)[:k])

    return {
        "append_eos": _append_eos,
        "drop_first_k": _drop_first,
        "remap_mod": _remap_mod,
        "truncate": _truncate,
    }
