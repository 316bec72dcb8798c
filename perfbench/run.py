"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload at ``local[<usable cores>]`` in this single driver process:
set-up (Spark session, seeded inputs, table loads, warm-up), a measured
window of ``--seconds`` of operation time, then the correctness check.  The
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics of the traced run with ``--trace 1``.  Lines before it
name the workload's own end-to-end figures with their units.

Everything is read and written inside the checkout: inputs, warehouses and
Spark scratch under ``.perfbench_work/`` (removed at exit), cached reference
digests and span dumps under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
SETUP_REPEATS = 3
# driver heap: well below this host's RAM (session.py defaults to 48g)
DRIVER_MEM = "3g"


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while listing
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and its Python
    workers have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _children(os.getpid())
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests so far (all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def gc_seconds(spark) -> float:
    """Total JVM garbage-collection time so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "jobs")]
    from cluster_scaling import _CpuAttributor
    from mongo_bulk_data_migration_spark.session import get_spark

    from perfbench.checks import ReferenceCache
    from perfbench.trace import Tracer, batch_summary, layer_metrics
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        ap.error(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        MBDM_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_PYTHON=sys.executable,
    )

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{a.workload}", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                    "spark.ui.showConsoleProgress": "false"},
    )
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[a.workload](spark, a.seed, work, cores, ReferenceCache(os.path.join(OUT, "reference")))
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        prep = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(prep) + warm_s

        tracer = Tracer(spark, wl.tracer_dirs()) if a.trace else None
        cpu = _CpuAttributor(t0_marker=os.devnull, root_pid=os.getpid())
        cpu.start()
        while cpu._baseline is None:  # first /proc scan sets the window's zero
            time.sleep(0.05)
        gc0, steal0 = gc_seconds(spark), steal_seconds()
        if tracer is not None:
            tracer.install()
        try:
            o = wl.run(a.seconds, tracer)
        finally:
            if tracer is not None:
                tracer.uninstall()
        cpu_roles = cpu.stop()
        gc_s, steal_s = gc_seconds(spark) - gc0, steal_seconds() - steal0
        rss = peak_rss_mb(_children(os.getpid()))
        bad = wl.check()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = min(o.attempted, o.failed + len(bad))
    cpu_s = sum(cpu_roles.values())
    # BENCHMARK.json gates cpu_s_per_op and setup_s.  The wall-clock figures
    # are printed beside them but not gated: on a shared VM they follow the
    # host's load from minute to minute (see README).
    e2e = {
        "throughput": o.items / o.item_time_s,
        "op_s_p50": statistics.median(o.op_s),
        "aux_s_p50": statistics.median(o.aux_s),
        "cpu_s_per_op": cpu_s / o.ops,
        "setup_s": setup_s,
    }
    detail = {name: {"value": v[0], "unit": v[1], **(v[2] if len(v) > 2 else {})}
              for name, v in o.detail.items()}
    detail.update({
        "cpu_s": _metric(cpu_s, "s"),
        "jvm_gc_s": _metric(gc_s, "s"),
        "host_steal_s": _metric(steal_s, "s"),
        "peak_rss_mb": _metric(rss, "MB"),
        "setup_s": _metric(setup_s, "s"),
        "failed_frac": _metric(failed / o.attempted, "ratio"),
    })
    for name, m in detail.items():
        print(f"{a.workload} {name} = {m['value']} {m['unit']}")
    for msg in bad:
        print(f"{a.workload} CHECK FAILED: {msg}")
    print(json.dumps({"detail": {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
        "ops": o.ops, "items": o.items, "op_s": o.op_s, "aux_s": o.aux_s,
        "cpu_s_roles": cpu_roles, "session_s": session_s, "prepare_s": prep, "warm_up_s": warm_s,
        "metrics": detail, "summary": e2e,
    }}))

    # the metrics printed are exactly the ones BENCHMARK.json declares
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if tracer is not None:
        tracer.dump(os.path.join(OUT, f"trace-{a.workload}-{a.seed}.jsonl"))
        print(json.dumps({"batches": batch_summary(tracer.spans)}))
        values, declared = layer_metrics(tracer.spans), spec["per_layer"]
    else:
        values, declared = e2e, spec["end_to_end"]
    metrics = {m["name"]: _metric(values[m["name"]], m["unit"]) for m in declared}
    print(json.dumps({"correct": not bad and failed == 0, "attempted": o.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
