"""Run-time plumbing for the benchmark: work directory, Spark session
lifecycle, process-tree RSS sampling and host provenance.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``
(fixtures, Spark local dirs, the JVM tmpdir, streaming checkpoints and
event logs); the directory is removed when the run ends.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")
RSS_PERIOD_S = 0.1


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints, ignoring
    OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------- provenance
def host_sample() -> dict:
    """Steal ticks (cpu line of /proc/stat, column 8) and 1-min loadavg."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"steal_ticks": int(parts[8]) if len(parts) > 8 else 0, "loadavg_1m": load1}


# ----------------------------------------------------------- process tree
def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` and its descendants, including
    their reaped children. The kernel accounts hypervisor steal apart, but
    this still grows when busy neighbours on the host slow every cycle."""
    ticks = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / CLK_TCK


class RssSampler:
    """Background sampler of the summed RSS of this process and all its
    descendants (JVM, Python worker daemon and workers)."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# ---------------------------------------------------------------- session
class Env:
    """Paths and the Spark session of one benchmark run."""

    def __init__(self, root: str):
        self.root = root
        self.cores = nproc()
        self.work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.events = os.path.join(self.work, "events")
        for d in (self.tmp, self.events, os.path.join(self.work, "local")):
            os.makedirs(d, exist_ok=True)
        # before pyspark launches the JVM: every temp file stays inside
        # the checkout, and the JVM heap is sized for a shared host
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # hsperfdata files go to /tmp whatever java.io.tmpdir says
        os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
        os.environ["SPARK_DRIVER_MEM"] = "2g"
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start(self, event_log: bool = False):
        from q_digest_spark.plans.session import get_spark

        extra = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.sql.streaming.checkpointLocation": self.path("checkpoints"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            extra["spark.eventLog.dir"] = "file://" + self.events
            extra["spark.eventLog.compress"] = "false"
            extra["spark.eventLog.rolling.enabled"] = "false"
        self.spark = get_spark(
            "perfbench", cores=self.cores, shuffle_partitions=self.cores, extra=extra
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def last_event_log(self) -> str:
        logs = [p for p in glob.glob(os.path.join(self.events, "*")) if not p.endswith(".inprogress")]
        if not logs:
            raise RuntimeError("no completed Spark event log found")
        return max(logs, key=os.path.getmtime)

    def shutdown(self) -> None:
        """Stop Spark, the JVM gateway and every descendant process,
        wait for them, and remove the work directory."""
        self.stop()
        try:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:
                        proc.kill()
                        proc.wait(timeout=10)
                SparkContext._gateway = None
                SparkContext._jvm = None
        except ImportError:
            pass
        deadline = time.time() + 20
        left = descendants(os.getpid())
        while left and time.time() < deadline:
            time.sleep(0.2)
            left = descendants(os.getpid())
        for p in left:
            try:
                os.kill(p, 9)
            except OSError:
                pass
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
