"""Spark start and teardown for one benchmark process, plus /proc readers.

Spark runs through ``session.get_spark`` as the library configures it; the
benchmark fixes the core count and heap (not read from the host) and keeps
every scratch file inside the checkout.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
import time

CORES = 4  # local[4]: steadier than local[2] on a 4-core host
DRIVER_MEMORY = "3g"
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def start_spark(root: str, work: str, app_name: str = "perfbench"):
    """Spark session whose scratch files (and those of every child: JVM,
    Python workers) stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts first writes no /tmp files
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    tempfile.tempdir = tmp
    from morphik_core_spark.session import get_spark

    return get_spark(
        app_name=app_name,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_table() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                out[int(name)] = fields
    return out


def descendants(pid: int, table: dict[int, list[str]] | None = None) -> list[int]:
    table = process_table() if table is None else table
    children: dict[int, list[int]] = {}
    for p, fields in table.items():
        children.setdefault(int(fields[1]), []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_ms(fields: list[str], with_children: bool) -> float:
    """utime+stime (and the reaped children's cutime+cstime) in ms."""
    # after the command name: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks * 1000.0 / _CLK_TCK


def jvm_and_worker_cpu_ms(pid: int) -> tuple[float, float]:
    """(JVM threads' CPU, CPU of the Python workers under the JVM)."""
    table = process_table()
    jvm = cpu_ms(table[pid], with_children=False) if pid in table else 0.0
    workers = sum(cpu_ms(table[p], with_children=True) for p in descendants(pid, table) if p in table)
    return jvm, workers


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM, and wait for every process under it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and _stat(pid) is not None and _stat(pid)[0] != "Z":
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
                break
            time.sleep(0.05)
