"""Change Data Feed: row-level changes between two LakeTable snapshots.

The lakehouse analog of a MongoDB change stream READER on the sink side —
Delta Lake's Change Data Feed / Iceberg's changelog scan re-expressed over
this repo's snapshot-versioned LakeTable.  Downstream consumers (incremental
materialized views, audit, replication) get (change_type, version, row)
without rescanning the table.

Per-commit cost model (the 100 TB story):

- **append commit**: added base files ARE the inserts — read only them.
- **merge-on-read commit**: the delta files written by the batch ARE the
  post-images (+ tombstones); pre-images come from a bucket-pruned
  time-travel read at v-1 semi-joined to the delta key set.  O(batch +
  touched buckets), never O(table).
- **overwrite commit** (copy-on-write merge, compaction): diff old vs new
  content of the touched buckets with one full-outer join on the key —
  exactly how Iceberg computes changelog scans for overwrite snapshots.
  Bounded by touched buckets; a pure compaction (rewrite, same logical
  content) correctly diffs to ZERO changes.
- **metadata-only commit** (add/widen column, marker): no files changed —
  no rows emitted.

``change_type`` ∈ {insert, delete, update_pre, update_post}: updates emit
BOTH images (the Delta CDF convention) so consumers can retract the old
contribution and add the new one — what incremental aggregation needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .laketable import DELETED_COL, DSEQ_COL, LakeTable, empty_frame

CHANGE_COL = "_change_type"
VERSION_COL = "_commit_version"


def _with_meta(df: DataFrame, cols: list[str], ctype, version: int) -> DataFrame:
    return df.select(
        *cols,
        ctype.alias(CHANGE_COL) if not isinstance(ctype, str) else F.lit(ctype).alias(CHANGE_COL),
        F.lit(version).cast("long").alias(VERSION_COL),
    )


def _align(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project ``df`` onto ``schema``: missing columns (added by online
    schema evolution after this snapshot) read NULL, narrower types (before
    an online widen) upcast — so pre/post images always compare under the
    commit's schema."""
    have = set(df.columns)
    return df.select(
        *[
            (F.col(f.name).cast(f.dataType) if f.name in have else F.lit(None).cast(f.dataType)).alias(
                f.name
            )
            for f in schema.fields
        ]
    )


def _commit_changes(
    tbl: LakeTable, spark: SparkSession, v: int, columns: list[str] | None = None
) -> DataFrame | None:
    """Changes introduced by commit ``v`` (vs snapshot ``v-1``).

    ``columns`` projects the row images to ``key + columns`` BEFORE any
    join/diff work — change detection then means "changed as observable in
    the projected columns" (an update touching only unprojected columns is
    correctly invisible to a consumer that never reads them).  This pushes
    parquet column pruning into the feed: an aggregate view over 2 scalar
    columns never deserializes the multi-KB token arrays.
    """
    prev = tbl.snapshot(v - 1)
    snap = tbl.snapshot(v)
    prev_paths = {f["path"] for f in prev.files}
    added = [f for f in snap.files if f["path"] not in prev_paths]
    removed = prev_paths - {f["path"] for f in snap.files}
    if not added and not removed:
        return None  # metadata-only commit (add/widen column, marker)

    import os

    key = snap.key_col
    cols = [f.name for f in snap.schema.fields]
    data_cols = [c for c in cols if c != key]
    if columns is not None:
        data_cols = [c for c in data_cols if c in set(columns)]
        cols = [key] + data_cols

    added_delta = [f for f in added if f.get("kind") == "delta"]
    added_base = [f for f in added if f.get("kind", "base") == "base"]

    if not removed and not added_delta:
        # pure append: the added files ARE the inserts
        ins = spark.read.schema(snap.schema).parquet(
            *[os.path.join(tbl.root, f["path"]) for f in added_base]
        )
        return _with_meta(ins.select(*cols), cols, "insert", v)

    if added_delta and not removed and not added_base:
        # merge-on-read commit: delta files carry post-images + tombstones
        delta_schema = T.StructType(
            list(snap.schema.fields)
            + [
                T.StructField(DELETED_COL, T.BooleanType(), True),
                T.StructField(DSEQ_COL, T.LongType(), True),
            ]
        )
        d = spark.read.schema(delta_schema).parquet(
            *[os.path.join(tbl.root, f["path"]) for f in added_delta]
        )
        winners = (
            d.groupBy(key)
            .agg(F.max_by(F.struct(*data_cols, DELETED_COL), DSEQ_COL).alias("__w"))
            .select(key, f"__w.{DELETED_COL}", *[F.col(f"__w.{c}").alias(c) for c in data_cols])
        )
        buckets = sorted({f["bucket"] for f in added_delta})
        pre = _align(tbl.read(spark, buckets=buckets, version=v - 1), snap.schema).join(
            winners.select(key), key, "semi"
        )
        return _classify(winners, pre, key, data_cols, cols, v, deleted_col=DELETED_COL)

    # overwrite commit (cow merge / compaction): diff touched buckets
    buckets = sorted(
        {f["bucket"] for f in added}
        | {f["bucket"] for f in prev.files if f["path"] in removed}
    )
    old = _align(tbl.read(spark, buckets=buckets, version=v - 1), snap.schema)
    new = tbl.read(spark, buckets=buckets, version=v)
    return _diff(old, new, key, data_cols, cols, v)


def _classify(
    winners: DataFrame,
    pre: DataFrame,
    key: str,
    data_cols: list[str],
    cols: list[str],
    v: int,
    deleted_col: str,
) -> DataFrame:
    """MoR commit: join post-winners to pre-images, emit typed rows."""
    win = winners.select(
        key, F.col(deleted_col).alias("__del"), F.struct(*data_cols).alias("__post")
    )
    pre_s = pre.select(key, F.struct(*data_cols).alias("__pre"))
    j = win.join(pre_s, key, "left")
    recs = F.array(
        F.when(
            F.col("__pre").isNull() & ~F.col("__del"),
            F.struct(F.lit("insert").alias("t"), F.col("__post").alias("img")),
        ),
        F.when(
            F.col("__pre").isNotNull() & F.col("__del"),
            F.struct(F.lit("delete").alias("t"), F.col("__pre").alias("img")),
        ),
        F.when(
            F.col("__pre").isNotNull() & ~F.col("__del"),
            F.struct(F.lit("update_pre").alias("t"), F.col("__pre").alias("img")),
        ),
        F.when(
            F.col("__pre").isNotNull() & ~F.col("__del"),
            F.struct(F.lit("update_post").alias("t"), F.col("__post").alias("img")),
        ),
    )
    ex = j.select(key, F.explode(F.filter(recs, lambda x: x.isNotNull())).alias("__r"))
    out = ex.select(
        key,
        *[F.col(f"__r.img.{c}").alias(c) for c in data_cols],
        F.col("__r.t").alias(CHANGE_COL),
        F.lit(v).cast("long").alias(VERSION_COL),
    )
    return out.select(*cols, CHANGE_COL, VERSION_COL)


def _diff(
    old: DataFrame, new: DataFrame, key: str, data_cols: list[str], cols: list[str], v: int
) -> DataFrame:
    """Overwrite commit: full-outer key join, struct-compare the payload."""
    o = old.select(F.col(key).alias("__ko"), F.struct(*data_cols).alias("__pre"))
    n = new.select(F.col(key).alias("__kn"), F.struct(*data_cols).alias("__post"))
    j = o.join(n, F.col("__ko").eqNullSafe(F.col("__kn")), "full")
    changed = F.col("__ko").isNotNull() & F.col("__kn").isNotNull() & ~F.col(
        "__pre"
    ).eqNullSafe(F.col("__post"))
    recs = F.array(
        F.when(
            F.col("__ko").isNull(),
            F.struct(F.lit("insert").alias("t"), F.col("__post").alias("img")),
        ),
        F.when(
            F.col("__kn").isNull(),
            F.struct(F.lit("delete").alias("t"), F.col("__pre").alias("img")),
        ),
        F.when(changed, F.struct(F.lit("update_pre").alias("t"), F.col("__pre").alias("img"))),
        F.when(changed, F.struct(F.lit("update_post").alias("t"), F.col("__post").alias("img"))),
    )
    ex = j.select(
        F.coalesce(F.col("__ko"), F.col("__kn")).alias(key),
        F.explode(F.filter(recs, lambda x: x.isNotNull())).alias("__r"),
    )
    out = ex.select(
        key,
        *[F.col(f"__r.img.{c}").alias(c) for c in data_cols],
        F.col("__r.t").alias(CHANGE_COL),
        F.lit(v).cast("long").alias(VERSION_COL),
    )
    return out.select(*cols, CHANGE_COL, VERSION_COL)


def table_changes(
    tbl: LakeTable,
    spark: SparkSession,
    from_version: int,
    to_version: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """All row-level changes in commits ``(from_version, to_version]``.

    The union stays lazy — one Spark plan over all commits in the range; a
    consumer that aggregates it (see operators/ivm.py) pays one pass.
    ``columns`` (optional) projects images to the named data columns — see
    :func:`_commit_changes`; essential when the payload columns are wide."""
    hi = tbl.current_version() if to_version is None else to_version
    parts = []
    for v in range(from_version + 1, hi + 1):
        c = _commit_changes(tbl, spark, v, columns=columns)
        if c is not None:
            parts.append(c)
    if not parts:
        fields = list(tbl.snapshot(hi).schema.fields)
        if columns is not None:
            keep = set(columns) | {tbl.snapshot(hi).key_col}
            fields = [f for f in fields if f.name in keep]
        schema = T.StructType(
            fields
            + [
                T.StructField(CHANGE_COL, T.StringType(), False),
                T.StructField(VERSION_COL, T.LongType(), False),
            ]
        )
        return empty_frame(spark, schema)
    out = parts[0]
    for p in parts[1:]:
        # schemas can differ across commits (online evolution mid-range)
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def follow_changes(
    tbl: LakeTable,
    spark: SparkSession,
    from_version: int,
    poll_interval_s: float = 1.0,
    max_polls: int | None = None,
    columns: list[str] | None = None,
):
    """Tail the table's commit log: yield ``(version, changes_df)`` for every
    new commit as it lands — the downstream-consumer analog of the engine's
    own change-stream tailing (a CDC sink becomes the next pipeline's CDC
    source).  A metadata-only commit yields an empty frame (still yielded:
    consumers track the version watermark, not row counts).

    This is a driver-side poller by design: each yielded frame is a normal
    batch DataFrame the consumer folds at its own pace (e.g. operators/ivm
    ``maintain``), giving exactly-once per version without streaming-state
    machinery — resume by persisting the last folded version.  ``max_polls``
    bounds the loop for tests; ``None`` tails forever.
    """
    import time as _time

    last = from_version
    polls = 0
    while max_polls is None or polls < max_polls:
        cur = tbl.current_version()
        while last < cur:
            last += 1
            c = _commit_changes(tbl, spark, last, columns=columns)
            if c is None:
                c = table_changes(tbl, spark, last, last, columns=columns)  # empty, typed
            yield last, c
        polls += 1
        if max_polls is None or polls < max_polls:
            _time.sleep(poll_interval_s)
