"""Per-role CPU accounting for a Spark process tree.

``_CpuAttributor`` samples ``/proc/<pid>/stat`` every 0.5 s for the Spark
processes below a root pid and sums their CPU-seconds by role: the driver
JVM (``SparkSubmit``), executor JVMs (``CoarseGrainedExecutorBackend``) and
Python workers (``pyspark.daemon`` / ``pyspark.worker``).  With a
``t0_marker`` path the totals are counted from the first scan that sees the
marker, so a caller can exclude start-up and warm-up.

``perfbench/run.py`` (the gated ``cpu_s_per_op``) and ``bench.py`` import it
with this directory on ``sys.path``:

    from cluster_scaling import _CpuAttributor
    a = _CpuAttributor(t0_marker=os.devnull, root_pid=os.getpid())
    a.start()
    ...
    cpu_s = a.stop()   # {"driver": s, "exec": s, "py": s}
"""

from __future__ import annotations

import os


class _CpuAttributor:
    """Attribute leg CPU-seconds to driver JVM / executor JVMs / py workers.

    Flat 1->4-executor throughput can mean three different things — driver
    saturation, disk saturation, or executors that were never the
    bottleneck — and the wall clock alone cannot tell them apart.  Sampling
    /proc/<pid>/stat (utime+stime) for every spark process and classifying
    by cmdline yields per-role CPU-seconds; `exec_busy_frac` =
    exec_cpu_s / (wall x executor core budget) then says how busy the
    executor cores actually were.  A leg with exec_busy_frac ~= 0.25 at 4
    executors is starved (driver/IO bound); ~1.0 means executor CPU is the
    constraint and more executors genuinely help."""

    _TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, t0_marker: str | None = None,
                 root_pid: int | None = None):
        import threading

        # process-tree scoping (round 5): when root_pid is given, only pids
        # descending from it are attributed — a concurrently running spark
        # job elsewhere on the host (pytest, another bench) must not leak
        # into this leg's cpu_s now that the CPU-normalized ratio is the
        # primary scaling figure
        self._root_pid = str(root_pid) if root_pid else None
        self._tree: set[str] = {self._root_pid} if self._root_pid else set()
        # pid -> (role, last_ticks); accumulated ticks for exited pids
        self._live: dict[str, tuple[str, int]] = {}
        self._done: dict[str, float] = {"driver": 0.0, "exec": 0.0, "py": 0.0}
        # storage-IO bytes per role: wchar/rchar = logical, write/read_bytes
        # = block-device (tmpfs workdirs show ~0 there — that IS the point)
        self._io_live: dict[str, tuple[str, tuple[int, int, int, int]]] = {}
        self._io_done: dict[str, list[int]] = {}
        # scope to the timed window: when the job touches t0_marker (after
        # its warmup), snapshot the running totals as a baseline — stop()
        # then reports only timed-window CPU (warmup/startup excluded)
        self._t0_marker = t0_marker
        self._baseline: dict[str, float] | None = None
        self._io_baseline: dict[str, list[int]] | None = None
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._t.start()

    def _totals(self) -> dict[str, float]:
        out = dict(self._done)
        for _pid, (role, ticks) in self._live.items():
            out[role] += ticks / self._TICK
        return out

    def _io_totals(self) -> dict[str, list[int]]:
        out = {k: list(v) for k, v in self._io_done.items()}
        for _pid, (role, vals) in self._io_live.items():
            acc = out.setdefault(role, [0, 0, 0, 0])
            for i, v in enumerate(vals):
                acc[i] += v
        return out

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._t.join(timeout=5)
        out = self._totals()
        if self._baseline:
            out = {k: out[k] - self._baseline.get(k, 0.0) for k in out}
        return {k: round(v, 1) for k, v in out.items()}

    def io_mb(self) -> dict[str, dict[str, float]]:
        """Per-role IO in MB: logical (wchar/rchar) + block-device
        (write_bytes/read_bytes), timed-window-scoped like stop()."""
        out = self._io_totals()
        if self._io_baseline:
            for role, base in self._io_baseline.items():
                if role in out:
                    out[role] = [max(a - b, 0) for a, b in zip(out[role], base)]
        mb = 1024 * 1024
        return {
            role: {"w_mb": round(v[0] / mb, 1), "r_mb": round(v[1] / mb, 1),
                   "disk_w_mb": round(v[2] / mb, 1), "disk_r_mb": round(v[3] / mb, 1)}
            for role, v in out.items()
        }

    @staticmethod
    def _role(cmd: str) -> str | None:
        if "CoarseGrainedExecutorBackend" in cmd:
            return "exec"
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            return "py"
        if "org.apache.spark.deploy.SparkSubmit" in cmd:
            return "driver"
        return None

    @staticmethod
    def _ppid(pid: str) -> str | None:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            return None

    def _in_tree(self, pid: str) -> bool:
        """True iff pid descends from root_pid (no scoping -> always True).

        Walks the ppid chain up to the known tree / root; every pid on a
        positive chain joins the tree set so later children resolve O(1)."""
        if self._root_pid is None:
            return True
        chain: list[str] = []
        cur: str | None = pid
        for _ in range(32):
            if cur is None or cur in ("0", "1"):
                return False
            if cur in self._tree:
                self._tree.update(chain)
                return True
            chain.append(cur)
            cur = self._ppid(cur)
        return False

    def _loop(self) -> None:
        while not self._stop.is_set():
            try:
                seen: set[str] = set()
                for pid in os.listdir("/proc"):
                    if not pid.isdigit():
                        continue
                    known = self._live.get(pid)
                    try:
                        if known is None:
                            with open(f"/proc/{pid}/cmdline", "rb") as f:
                                cmd = f.read().replace(b"\0", b" ").decode(
                                    "utf-8", errors="replace")
                            role = self._role(cmd)
                            if role is None or not self._in_tree(pid):
                                continue
                        else:
                            role = known[0]
                        with open(f"/proc/{pid}/stat") as f:
                            parts = f.read().rsplit(")", 1)[1].split()
                        ticks = int(parts[11]) + int(parts[12])  # utime+stime
                    except (OSError, IndexError, ValueError):
                        continue
                    self._live[pid] = (role, ticks)
                    try:
                        with open(f"/proc/{pid}/io") as f:
                            io = {}
                            for ln in f:
                                k, _, v = ln.partition(":")
                                io[k] = int(v)
                        self._io_live[pid] = (role, (
                            io.get("wchar", 0), io.get("rchar", 0),
                            io.get("write_bytes", 0), io.get("read_bytes", 0)))
                    except (OSError, ValueError):
                        pass
                    seen.add(pid)
                for pid in [p for p in self._live if p not in seen]:
                    # a transient /proc read failure must NOT retire a live
                    # pid: its lifetime ticks would be banked into _done and
                    # then re-added in full at rediscovery (double-count).
                    # Only confirmed-exited pids move to _done.
                    if os.path.exists(f"/proc/{pid}"):
                        continue
                    role, ticks = self._live.pop(pid)
                    self._done[role] += ticks / self._TICK
                    iov = self._io_live.pop(pid, None)
                    if iov is not None:
                        acc = self._io_done.setdefault(role, [0, 0, 0, 0])
                        for i, v in enumerate(iov[1]):
                            acc[i] += v
                if (self._baseline is None and self._t0_marker
                        and os.path.exists(self._t0_marker)):
                    self._baseline = self._totals()
                    self._io_baseline = self._io_totals()
            except Exception:
                pass
            self._stop.wait(0.5)
