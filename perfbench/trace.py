"""Outside-in per-layer trace.

The traced run wraps the public functions of each layer at the sites the
engine imports them from, records one span per call, and derives the
per-layer metrics from the spans once the measured window ends.  No program
file is edited: the wrappers replace module and class attributes for the
duration of the window and put the originals back afterwards.

A span has a name, start, end, parent, thread and batch number.  Each span
also owns a Spark job group (set as the thread's ``spark.jobGroup.id`` while
the span is open), so the jobs and tasks a layer started are read back from
``statusTracker()`` when the span closes.

``stage_merge`` runs on the stage thread concurrently with
``Changelog.append_batch``; a span opened on a thread with no open span of
its own is parented to the open batch, which makes the two siblings.

Layer boundaries (span name <- wrapped callable):

- ``replay``            <- ``ChangeStreamReplayer.apply_changes``
- ``batch``             <- opened at the first ``build_merge_plan`` of a replay
                           or ``update()`` batch, closed after
                           ``HwmStore.advance`` (replay) or ``commit_merge``
                           (``update()``)
- ``merge.plan|stage|commit|run`` <- ``build_merge_plan``, ``stage_merge``,
                           ``commit_merge``, ``run_merge`` at the replay and
                           engine import sites
- ``changelog.append``, ``changelog.rollback_source`` <- ``Changelog`` methods
- ``laketable.append|compact|commit`` <- ``LakeTable.append``,
                           ``LakeTable.compact``, ``PendingCommit.commit``
- ``hwm.filter``, ``hwm.advance`` <- ``HwmStore`` methods
- ``engine.update``, ``engine.rollback`` <- ``MongoBulkDataMigrationSpark``
- ``laketable.read``, ``query.<name>`` are opened by the workloads around a
  snapshot scan plus its action, and around each ``queries()`` entry.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import statistics
import threading
import time
from typing import Any, Callable

GROUP_PROP = "spark.jobGroup.id"
_PART_RE = re.compile(r"^part-(\d+)-")


class Span:
    __slots__ = ("id", "name", "parent", "thread", "batch", "t0", "t1",
                 "group", "prev_group", "jobs", "tasks", "attrs")

    def as_dict(self) -> dict[str, Any]:
        return {
            "id": self.id, "name": self.name,
            "parent": self.parent.id if self.parent else None,
            "thread": self.thread, "batch": self.batch,
            "t0": self.t0, "t1": self.t1, "jobs": self.jobs, "tasks": self.tasks,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


def _listing(root: str | None) -> dict[str, int]:
    out: dict[str, int] = {}
    if not root or not os.path.isdir(root):
        return out
    for d, _, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(d, fn)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass  # removed by a concurrent GC between walk and stat
    return out


def write_task_skew(new_files: dict[str, int]) -> float:
    """max / median bytes per writing task, from the task index Spark puts
    in part-file names (``part-<task>-<uuid>...``)."""
    per_task: dict[int, int] = {}
    for p, size in new_files.items():
        m = _PART_RE.match(os.path.basename(p))
        if m:
            per_task[int(m.group(1))] = per_task.get(int(m.group(1)), 0) + size
    if not per_task:
        return 0.0
    med = statistics.median(per_task.values())
    return max(per_task.values()) / med if med else 0.0


class Tracer:
    """In-memory span recorder plus the attribute patches that feed it."""

    def __init__(self, spark, dirs: dict[str, str] | None = None):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.dirs = dirs or {}  # {"laketable": target root, "changelog": changelog root}
        self.batch: Span | None = None
        self._n_batches = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple[Any, str, Any]] = []
        self._listings: dict[str, dict[str, int]] = {}

    # ---------------- spans ----------------

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def open(self, name: str) -> Span:
        stack = self._stack()
        sp = Span()
        with self._lock:
            sp.id = next(self._ids)
        sp.name = name
        sp.parent = stack[-1] if stack else self.batch
        sp.thread = threading.current_thread().name
        sp.batch = self.batch.batch if self.batch is not None else None
        sp.attrs = {}
        sp.group = f"perfbench-span-{sp.id}"
        sp.prev_group = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, sp.group)
        stack.append(sp)
        sp.t0 = time.perf_counter()
        return sp

    def close(self, sp: Span) -> None:
        sp.t1 = time.perf_counter()
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(sp.group))
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                tasks += si.numCompletedTasks if si else 0
        sp.jobs, sp.tasks = len(jobs), tasks
        stack = self._stack()
        if sp in stack:
            stack.remove(sp)
        self.sc.setLocalProperty(GROUP_PROP, sp.prev_group)
        with self._lock:
            self.spans.append(sp)

    def span(self, name: str, fn: Callable, *args, **kwargs):
        sp = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(sp)

    def open_batch(self) -> None:
        """Open the batch span at a batch's first plan build; a rollback's
        single restore merge is not a batch and stays under its call."""
        if self.batch is not None or any(sp.name == "engine.rollback" for sp in self._stack()):
            return
        sp = self.open("batch")
        self._n_batches += 1
        sp.batch = self._n_batches
        self.batch = sp
        self._listings = {k: _listing(r) for k, r in self.dirs.items()}

    def close_batch(self) -> None:
        sp = self.batch
        if sp is None:
            return
        self.batch = None
        for k, root in self.dirs.items():
            new = {p: s for p, s in _listing(root).items() if p not in self._listings.get(k, {})}
            sp.attrs[f"{k}.bytes_written"] = sum(new.values())
            sp.attrs[f"{k}.files_written"] = len(new)
            if k == "laketable":
                sp.attrs["laketable.write_task_skew"] = write_task_skew(new)
        if self.dirs.get("laketable"):
            from mongo_bulk_data_migration_spark import LakeTable

            sp.attrs["laketable.delta_layers"] = LakeTable(self.dirs["laketable"]).delta_layers()
        self.close(sp)

    # ---------------- patches ----------------

    def _patch(self, owner: Any, attr: str, make: Callable[[Callable], Callable]) -> None:
        orig = owner.__dict__[attr]
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        self._patches.append((owner, attr, orig))

    def _spanned(self, name: str, before=None, after=None) -> Callable[[Callable], Callable]:
        def make(orig):
            def w(*a, **k):
                if before:
                    before()
                sp = self.open(name)
                try:
                    out = orig(*a, **k)
                    if name == "changelog.append":
                        sp.attrs["backup_rows"] = int(out)
                    elif name == "replay":
                        sp.attrs["n_events"] = sum(int(m.get("n_events", 0)) for m in out)
                        sp.attrs["n_keys"] = sum(int(m.get("n_source_keys", 0)) for m in out)
                    return out
                finally:
                    if name in ("replay", "engine.update", "engine.rollback"):
                        self.close_batch()  # never leak a batch past its call
                    self.close(sp)
                    if after:
                        after()
            return w
        return make

    def install(self) -> None:
        from mongo_bulk_data_migration_spark.plans import engine as engine_mod
        from mongo_bulk_data_migration_spark.plans.changelog import Changelog
        from mongo_bulk_data_migration_spark.plans.hwm import HwmStore
        from mongo_bulk_data_migration_spark.sources.laketable import LakeTable, PendingCommit
        from mongo_bulk_data_migration_spark.streaming import replay as replay_mod

        p, s = self._patch, self._spanned
        p(replay_mod.ChangeStreamReplayer, "apply_changes", s("replay"))
        p(engine_mod.MongoBulkDataMigrationSpark, "update", s("engine.update"))
        p(engine_mod.MongoBulkDataMigrationSpark, "rollback", s("engine.rollback"))
        for mod in (replay_mod, engine_mod):
            p(mod, "build_merge_plan", s("merge.plan", before=self.open_batch))
            p(mod, "stage_merge", s("merge.stage"))
        p(replay_mod, "commit_merge", s("merge.commit"))
        p(engine_mod, "commit_merge", s("merge.commit", after=self.close_batch))
        p(engine_mod, "run_merge", s("merge.run", after=self.close_batch))
        p(Changelog, "append_batch", s("changelog.append"))
        p(Changelog, "rollback_source", s("changelog.rollback_source"))
        p(LakeTable, "append", s("laketable.append"))
        p(LakeTable, "compact", s("laketable.compact"))
        p(PendingCommit, "commit", s("laketable.commit"))
        p(HwmStore, "filter_events", s("hwm.filter"))
        p(HwmStore, "advance", s("hwm.advance", after=self.close_batch))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.t0):
                f.write(json.dumps(sp.as_dict()) + "\n")


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

QUERY_NAMES = ("tpch_q1", "lookup_join", "last_wins", "dedup_exact",
               "minhash_bands", "text_quality", "ann_bruteforce")

# (metric, unit): every per-layer metric the traced run prints, on every
# workload; a layer the workload does not reach reads 0
PER_LAYER: list[tuple[str, str]] = [
    ("replay.prestage_s", "s"), ("replay.self_s", "s"), ("replay.keys_per_event", "ratio"),
    ("batch.self_s", "s"),
    ("merge.plan_s", "s"), ("merge.stage_s", "s"), ("merge.stage_wait_s", "s"),
    ("merge.commit_s", "s"), ("merge.run_s", "s"),
    ("changelog.append_s", "s"), ("changelog.rollback_source_s", "s"),
    ("changelog.bytes_written", "bytes"), ("changelog.backup_rows", "count"),
    ("laketable.commit_s", "s"), ("laketable.append_s", "s"),
    ("laketable.compact_s", "s"), ("laketable.compactions", "count"),
    ("laketable.delta_layers", "count"), ("laketable.read_s", "s"),
    ("laketable.bytes_written", "bytes"), ("laketable.files_written", "count"),
    ("laketable.write_task_skew", "ratio"),
    ("hwm.filter_s", "s"), ("hwm.advance_s", "s"),
    ("engine.split_s", "s"), ("engine.update_s", "s"), ("engine.rollback_s", "s"),
    ("batch.jobs", "count"), ("batch.tasks", "count"),
    ("replay.jobs", "count"), ("replay.tasks", "count"),
    ("merge.plan.jobs", "count"),
    ("merge.stage.jobs", "count"), ("merge.stage.tasks", "count"),
    ("changelog.append.jobs", "count"), ("changelog.append.tasks", "count"),
    ("merge.commit.jobs", "count"),
    ("engine.update.jobs", "count"), ("engine.rollback.jobs", "count"),
    ("laketable.compact.jobs", "count"), ("laketable.read.jobs", "count"),
    ("query.jobs", "count"),
] + [(f"query.{q}_s", "s") for q in QUERY_NAMES]


def _med(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def self_time(sp: Span, children: list[Span]) -> float:
    """Span duration minus the union of its children's intervals."""
    iv = sorted((max(c.t0, sp.t0), min(c.t1, sp.t1)) for c in children)
    covered, end = 0.0, sp.t0
    for a, b in iv:
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return (sp.t1 - sp.t0) - covered


def _children(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent.id, []).append(sp)
    return kids


def _subtree_sum(sp: Span, field: str, kids: dict[int, list[Span]]) -> int:
    """Jobs (or tasks) started under ``sp``'s group or any descendant's."""
    return getattr(sp, field) + sum(_subtree_sum(c, field, kids) for c in kids.get(sp.id, []))


def batch_summary(spans: list[Span]) -> list[dict[str, Any]]:
    """One record per batch span: wall time, jobs and tasks of the whole
    batch, its child spans (start offset and duration) and the bytes and
    files it wrote."""
    kids = _children(spans)
    out = []
    for b in sorted((s for s in spans if s.name == "batch"), key=lambda s: s.t0):
        out.append({
            "batch": b.batch, "s": b.t1 - b.t0,
            "jobs": _subtree_sum(b, "jobs", kids), "tasks": _subtree_sum(b, "tasks", kids),
            "children": [{"name": c.name, "thread": c.thread, "start_s": c.t0 - b.t0, "s": c.t1 - c.t0}
                         for c in sorted(kids.get(b.id, []), key=lambda c: c.t0)],
            **b.attrs,
        })
    return out


def layer_metrics(spans: list[Span]) -> dict[str, float]:
    by_name: dict[str, list[Span]] = {}
    for sp in spans:
        by_name.setdefault(sp.name, []).append(sp)
    kids = _children(spans)

    def dur(name: str) -> list[float]:
        return [s.t1 - s.t0 for s in by_name.get(name, [])]

    def to_first_batch(calls: list[Span]) -> float:
        """Median time from a call's entry to its first batch span."""
        return _med([min(c.t0 for c in kids[p.id] if c.name == "batch") - p.t0
                     for p in calls if any(c.name == "batch" for c in kids.get(p.id, []))])

    out: dict[str, float] = {}
    for name, unit in PER_LAYER:
        if unit == "s":
            out[name] = _med(dur(name[:-2]))
        elif name.endswith(".jobs") or name.endswith(".tasks"):
            span_name, field = name.rsplit(".", 1)
            pool = [s for n, ss in by_name.items() for s in ss if n.startswith("query.")] \
                if span_name == "query" else by_name.get(span_name, [])
            out[name] = _med([_subtree_sum(s, field, kids) for s in pool])
        else:
            out[name] = 0.0

    replays, batches = by_name.get("replay", []), by_name.get("batch", [])
    out["replay.prestage_s"] = to_first_batch(replays)
    out["replay.self_s"] = _med([self_time(r, kids.get(r.id, [])) for r in replays])
    n_ev = sum(r.attrs.get("n_events", 0) for r in replays)
    out["replay.keys_per_event"] = sum(r.attrs.get("n_keys", 0) for r in replays) / n_ev if n_ev else 0.0
    out["batch.self_s"] = _med([self_time(b, kids.get(b.id, [])) for b in batches])
    waits = []
    for b in batches:
        ch = {c.name: c for c in kids.get(b.id, [])}
        if "merge.stage" in ch and "changelog.append" in ch:
            waits.append(max(0.0, ch["merge.stage"].t1 - ch["changelog.append"].t1))
    out["merge.stage_wait_s"] = _med(waits)
    out["changelog.backup_rows"] = _med([s.attrs["backup_rows"] for s in by_name.get("changelog.append", [])])
    for k in ("changelog.bytes_written", "laketable.bytes_written", "laketable.files_written",
              "laketable.write_task_skew", "laketable.delta_layers"):
        out[k] = _med([b.attrs[k] for b in batches if k in b.attrs])
    out["laketable.compactions"] = float(len(by_name.get("laketable.compact", [])))
    out["engine.split_s"] = to_first_batch(by_name.get("engine.update", []))
    return out
