"""Shared pieces of the benchmark: the work directory, the Spark
session, wall and CPU clocks, and directory accounting."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

#: every file the benchmark writes lives under this directory of the
#: checkout (it is in .gitignore)
WORK = ".perfbench_work"

CORES = 4

#: JVM flags of the Spark driver. With the default tiered JIT and G1, C2
#: compilation and G1's concurrent marking were a large and drifting
#: part of a batch's CPU time (how much they do depends on when they
#: kick in); this set keeps the JIT to C1 and the collector
#: single-threaded and stop-the-world, so a batch's CPU time is mostly
#: the program's own work. NOTES.md has the measurements.
JVM_FLAGS = [
    "-XX:-UsePerfData",
    "-XX:TieredStopAtLevel=1",
    "-XX:-UseDynamicNumberOfCompilerThreads",
    "-XX:+UseSerialGC",
    "-Xms2g",
]


def work_dir(name: str) -> str:
    path = os.path.abspath(os.path.join(WORK, name))
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_spark(work: str, event_log: bool = False):
    """Start the engine's session as `local[4]` with all scratch,
    warehouse and JVM temp files under `work`. With `event_log`, Spark
    writes an uncompressed event log there (Spark 4 compresses with
    zstd by default, and no zstd reader is installed)."""
    from etl_process_for_fraud_transactions_spark.session import get_spark

    tmp = os.path.join(work, "jvm_tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark_local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark_warehouse"),
        "spark.driver.extraJavaOptions": " ".join([f"-Djava.io.tmpdir={tmp}", *JVM_FLAGS]),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": logs,
            }
        )
    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _descendants(root: int) -> dict[int, str]:
    """pid -> start time of every live process below `root`."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                parent[int(name)] = (int(fields[1]), fields[19])
    out: dict[int, str] = {}
    todo = [root]
    while todo:
        p = todo.pop()
        for pid, (ppid, start) in parent.items():
            if ppid == p and pid not in out:
                out[pid] = start
                todo.append(pid)
    return out


def _running(pid: int, start: str) -> bool:
    """Whether the process `pid` that started at `start` still runs
    (a zombie child of this process is reaped on the way)."""
    fields = _stat(pid)
    if fields is None or fields[19] != start:
        return False
    if fields[0] == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


#: how long stop_processes waits for a process before it kills it
STOP_TIMEOUT_S = 30.0


def stop_processes() -> None:
    """Stop the Spark session, its JVM and every other process started
    under this one, and wait until each has ended.

    `SparkSession.stop()` leaves the JVM running until Python exits, and
    the JVM's own children (Python workers) end after it. So this closes
    the JVM's stdin, which makes it exit, then waits for every process
    found below this one, killing what is left after STOP_TIMEOUT_S.
    Safe to call more than once and without a session."""
    procs = _descendants(os.getpid())
    context = sys.modules.get("pyspark.core.context")
    sc_cls = getattr(context, "SparkContext", None)
    if sc_cls is not None:
        active = sc_cls._active_spark_context
        if active is not None:
            try:
                active.stop()
            except Exception as e:  # the JVM may already be gone
                print(f"stopping the Spark session: {e}", file=sys.stderr)
        gateway = sc_cls._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:
                    pass
                try:
                    proc.wait(timeout=STOP_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            sc_cls._gateway = None
            sc_cls._jvm = None
    deadline = time.monotonic() + STOP_TIMEOUT_S
    for pid, start in procs.items():
        while _running(pid, start):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def cpu_seconds(spark=None) -> float:
    """CPU time (user + system) used so far by this process and, given
    a session, by its Spark JVM. Time the host gives to other guests is
    not in it, so it moves far less than wall time on a shared host."""
    total = time.process_time()
    if spark is not None:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        fields = _stat(pid)
        total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return total


def data_files(root: str) -> set[str]:
    """Paths of the data files under `root` (Spark's _SUCCESS markers
    and .crc checksums excluded)."""
    out = set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.startswith(("_", ".")):
                out.add(os.path.join(dirpath, f))
    return out


def tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Clock:
    """Wall time of a block, appended to a list."""

    def __init__(self, into: list[float]):
        self.into = into

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.into.append(time.perf_counter() - self.t0)
        return False
