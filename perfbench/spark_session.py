"""The benchmark's Spark session, its work directory and its CPU clock.

Both the measured run (``run.py``) and the base-index build (``base.py``)
start their session here, so they run with the same configuration, and
stop it here, waiting until the JVM has exited.
"""

from __future__ import annotations

import os
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def start_spark(traced: bool):
    """A ``local[4]`` session; the Spark UI (and its REST API) is on only
    when ``traced``. Every file Spark and the JVM write goes to WORK."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, the spark-submit launcher too: no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from antidb_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if traced else "false",
    }
    return get_spark(master="local[4]", app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and every live descendant: the driver, the JVM and
    Spark's Python workers. Unlike wall time, it leaves out the time the
    host's hypervisor gives this machine's CPUs to other guests (steal)."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                s = fh.read()
        except OSError:  # the process has just exited
            continue
        f = s[s.rindex(")") + 2:].split()  # fields 3.. of proc(5)
        pid = int(name)
        parent[pid] = int(f[1])
        cpu[pid] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo += children.get(pid, [])
    return total / _CLK_TCK
