"""Session pinning, set-up timing, process-tree memory and shutdown.

Everything here is driven from the benchmark side: the program's session
factory (``config.build_spark``) is called with explicit arguments,
``extra_conf`` and environment, and ``config.py`` itself is not touched.

The benchmark reads and writes only under its work directory inside the
checkout: ``pin_environment`` points Python's ``tempfile`` (which also holds
the package zip the factory ships), Spark's local dirs and the JVM's temp dir
there before the first JVM starts.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Route every temp/scratch path of this process, its JVM and its Python
    workers under ``work``. Must run before pyspark launches a JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # every JVM (the spark-submit launcher and the driver): temp files under
    # work, no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")


def driver_memory_gb() -> int:
    """A quarter of the machine's memory, capped at 4 GiB: the JVM shares the
    box with Python workers and the driver process."""
    with open("/proc/meminfo") as f:
        kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return max(1, min(4, kb // (4 * 1024 * 1024)))


def session_conf(work: str, event_log: str | None = None) -> dict:
    gb = driver_memory_gb()
    conf = {
        "spark.driver.memory": f"{gb}g",
        # fixed heap and young generation: the collector's adaptive sizing
        # follows its measured pause times, so the JVM's peak RSS moved with
        # the machine's speed (4-core VM: 115 MB range over three runs, 30 MB
        # fixed). Prepended to the program's spark.driver.extraJavaOptions.
        "spark.driver.defaultJavaOptions": (
            f"-Xms{gb}g -Xmn{gb * 256}m -XX:-UseAdaptiveSizePolicy"),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + os.path.abspath(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(work: str, n_cores: int, event_log: str | None = None):
    from complete_ocr_spark.config import build_spark

    return build_spark(
        "perfbench", master=f"local[{n_cores}]",
        shuffle_partitions=max(n_cores, 8),
        extra_conf=session_conf(work, event_log),
    )


def stop_session(spark, keep_jvm: bool = False) -> None:
    """Stop the session and wait until every process it started has exited.
    ``keep_jvm`` stops only the SparkContext (and with it the Python worker
    daemon): the next ``start_session`` reuses the running JVM. Otherwise the
    JVM is shut down too and the next session launches a fresh one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = gateway.proc
    workers = descendants(jvm.pid)
    spark.stop()
    if not keep_jvm:
        gateway.shutdown()
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_gone(workers)


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces: ppid is the 2nd field after the closing ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    parents = _ppid_map()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        found.extend(kids)
        frontier.extend(kids)
    return found


def wait_gone(pids: list[int], timeout: float = 60.0) -> None:
    deadline = time.monotonic() + timeout
    left = list(pids)
    while left:
        left = [p for p in left if os.path.exists(f"/proc/{p}")
                and not _is_zombie(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def tree_pids() -> list[int]:
    me = os.getpid()
    return [me] + descendants(me)


def reset_peak_rss() -> None:
    """Zero every tree process's peak-RSS counter (VmHWM), so the next read
    covers only what ran since."""
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb() -> float:
    """Sum over the process tree (driver, JVM, Python workers) of each
    process's peak RSS since ``reset_peak_rss``. Processes peak at different
    moments, so this bounds the tree's simultaneous peak from above."""
    total_kb = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/status") as f:
                for ln in f:
                    if ln.startswith("VmHWM:"):
                        total_kb += int(ln.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0
