"""Machine pinning, process-tree memory and process teardown.

Everything here acts on the benchmark's own processes and files: the
Python driver, the JVM it launches and the Python workers the JVM
forks. Nothing is changed outside the benchmark's scratch directory.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

#: upper bound on local[k]; the benchmark stays small on big hosts
MAX_CORES = 4
#: JVM heap: a quarter of physical memory, at most this many MB
MAX_HEAP_MB = 2048


def cores() -> int:
    return min(MAX_CORES, len(os.sched_getaffinity(0)))


def mem_total_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin(root: str, here: str, work: str, k: int) -> dict:
    """Set the environment the JVM and its Python workers inherit, and
    return the settings (recorded in every run's output). Must run
    before the first SparkSession is built: the JVM captures the
    environment at launch."""
    heap_mb = min(MAX_HEAP_MB, mem_total_mb() // 4)
    local_dir = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local_dir, tmp):
        os.makedirs(d, exist_ok=True)
    # workers import the package (fqueue reader tasks) and the
    # benchmark's traced source; without this they fail with
    # ModuleNotFoundError
    pythonpath = os.pathsep.join(
        p for p in (root, here, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.update({
        "PYTHONPATH": pythonpath,
        "SPARK_LOCAL_DIRS": local_dir,
        "SPARK_GRAFT_CPUS": str(k),
        "TMPDIR": tmp,
        "OMP_NUM_THREADS": "1",
        "PYTHONHASHSEED": "0",
    })
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": local_dir,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            # -XX:-UsePerfData: no hsperfdata file outside the checkout
            f"-Xms{heap_mb}m -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    return {
        "master": f"local[{k}]",
        "shuffle_partitions": k,
        "cores": k,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_total_mb(),
        "driver_memory": conf["spark.driver.memory"],
        "pythonpath": pythonpath,
        "work_dir": work,
        "generator": "1 process, 1 thread",
        "spark_conf": conf,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def command(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")[:120]
    except OSError:
        return "?"


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (JVM, Python workers) every ``period`` seconds and keeps
    the largest sum seen. Each process counts its proportional set size,
    so pages that forked Python workers share are counted once."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        #: pid -> (command line, PSS kB) of each process at the peak
        self.at_peak: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        parts = {p: _pss_kb(p) for p in [me, *descendants(me)]}
        kb = sum(parts.values())
        if kb > self.peak_kb:
            self.peak_kb = kb
            self.at_peak = {p: (command(p), k) for p, k in parts.items()}

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> PeakRss:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process it
    started (Python workers included) has exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin reaches EOF
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        _reap(procs)


def _reap(pids: list[int], grace: float = 15.0) -> None:
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        for pid in pids:
            try:  # reap our own zombie children
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            if sig == signal.SIGKILL:
                raise RuntimeError(f"processes {left} did not exit")
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            sig, deadline = signal.SIGKILL, time.monotonic() + grace
        time.sleep(0.05)


def du_bytes(*paths: str) -> int:
    """Bytes of regular files under ``paths``, each inode counted once
    (the table layouts hardlink files across generations)."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for top in paths:
        for root, _dirs, files in os.walk(top):
            for f in files:
                st = os.lstat(os.path.join(root, f))
                key = (st.st_dev, st.st_ino)
                if key not in seen:
                    seen.add(key)
                    total += st.st_size
    return total
