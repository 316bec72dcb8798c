"""``_CpuAttributor``: the per-role CPU sampler behind perfbench's gated
``cpu_s_per_op`` (imported the way ``perfbench/run.py`` imports it)."""

import json
import os
import resource
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ~1.5 s of CPU, then 1 s asleep so a 0.5 s sample sees the final ticks
# before the process exits; the trailing argv word gives it role "py"
CHILD = (
    "import time\n"
    "t = time.process_time()\n"
    "while time.process_time() - t < 1.5:\n"
    "    pass\n"
    "time.sleep(1.0)\n"
)


def _children_cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def _measure() -> dict:
    """Attribute one py-role child's CPU from this process's tree."""
    sys.path[:0] = [ROOT, os.path.join(ROOT, "jobs")]
    from cluster_scaling import _CpuAttributor

    a = _CpuAttributor(t0_marker=os.devnull, root_pid=os.getpid())
    a.start()
    try:
        deadline = time.monotonic() + 10
        while a._baseline is None:
            assert time.monotonic() < deadline, "no baseline scan"
            time.sleep(0.05)
        before = _children_cpu_s()
        subprocess.run([sys.executable, "-c", CHILD, "pyspark.daemon"], check=True)
        child_s = _children_cpu_s() - before
    finally:
        cpu = a.stop()
    return {"cpu": cpu, "child_s": child_s}


def test_py_worker_cpu_attributed_to_py_role():
    # a fresh interpreter: the test session's Spark JVM, also a child of
    # this process, would otherwise be sampled as the "driver"
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        check=True, capture_output=True, text=True,
    ).stdout
    r = json.loads(out.strip().splitlines()[-1])
    cpu, child_s = r["cpu"], r["child_s"]
    assert child_s > 1.0
    assert abs(cpu["py"] - child_s) <= 0.2 * child_s, r
    assert cpu["driver"] == 0 and cpu["exec"] == 0, r


if __name__ == "__main__":
    print(json.dumps(_measure()))
