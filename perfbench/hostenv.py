"""Host sizing, the benchmark's own Spark configuration, and the memory
sampler. Nothing here touches the package: the session is sized through
the environment variables `go_htmldate_spark.session` already reads,
and through a benchmark-owned SPARK_CONF_DIR."""

from __future__ import annotations

import os
import sys
import threading
import time

# Spark's driver heap in local mode hosts every task thread. The
# package default (24g) is sized for a 32-core host; the benchmark's
# inputs are small, so it asks for 2 GiB, and never more than half of
# the host's memory.
DRIVER_MEM_CAP_MB = 2048


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def size_session(root: str, bench: str, work: str, trace: bool) -> dict:
    """Set the environment the session factory and Spark's launcher read.
    Returns the settings, which the run reports."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = min(DRIVER_MEM_CAP_MB, mem_total_mb() // 2)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    conf_dir = os.path.join(work, "conf")
    events = os.path.join(work, "events")
    for d in (local, tmp, conf_dir, events):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": events,
        "spark.eventLog.compress": "false",
        # the whole heap resident from the start: how far G1 grows the
        # heap below its cap varies run to run and would swamp the
        # process tree's memory; pre-touched, the heap is a constant the
        # run subtracts, and peak_pss_offheap_mb moves with the memory
        # the program holds outside it (Python workers, native buffers).
        # The heap the program uses is the traced run's
        # spark.peak_jvm_heap_mb.
        "spark.driver.extraJavaOptions": f"-Xms{mem_mb}m -XX:+AlwaysPreTouch",
    }
    if trace:
        # per-task peaks of the executor's memory metrics (JVMHeapMemory)
        # in each task-end event
        conf["spark.executor.metrics.pollingInterval"] = "100ms"
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        for k, v in conf.items():
            f.write(f"{k} {v}\n")
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_CONF_DIR": conf_dir,
        # Spark's Python workers start in the driver's working directory
        # with their own sys.path; the package root (and the benchmark's
        # own modules, which its UDFs are pickled by reference from) go
        # on PYTHONPATH so workers import them wherever the run started
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, bench, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # every JVM, the launcher's too: scratch in the work dir, and no
        # hsperfdata file in /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(settings)
    return {"cpus": cpus, "driver_mem": settings["SPARK_DRIVER_MEM"],
            "heap_mb": mem_mb, "local_dir": local, "event_log": trace}


def _process_tree(root_pid: int) -> list[int]:
    """`root_pid` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # process ended between listing and reading
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, with each page shared by n
    processes counted 1/n in each. Spark forks its Python workers from
    one daemon, so their resident sets overlap; summing RSS over the
    tree would count the shared pages once per live worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # process ended
    return 0


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and its JVM, and wait until every process this
    one started (JVM, Python daemon and workers) has ended."""
    from pyspark import SparkContext

    started = set(_process_tree(os.getpid())) - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=timeout_s)
        SparkContext._gateway = SparkContext._jvm = None
    # the Python daemon and workers are the JVM's children: once it has
    # gone they belong to init, so wait on the pids seen before the stop
    deadline = time.monotonic() + timeout_s
    while any(os.path.exists(f"/proc/{pid}") for pid in started):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes still running after stop")
        time.sleep(0.1)


class MemorySampler:
    """Samples the process tree's proportional set size on a thread;
    `stop()` returns the largest sum seen since `start()`, in MiB."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, sum(map(_pss_bytes, _process_tree(pid))))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / (1 << 20)
