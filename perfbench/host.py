"""Host-derived Spark session and process-tree accounting.

The session is sized from the machine it runs on: ``local[N]`` with N from
``$SPARK_GRAFT_CPUS`` (else the CPU count), a driver heap derived from
``/proc/meminfo`` with ``-Xms`` pinned to ``-Xmx``, the UI off, and every
scratch file (Spark local dirs, warehouse, temp files) kept under the
benchmark's work directory.

``ProcTree`` measures the job's cost as the benchmark defines it: CPU seconds
and resident memory of the JVM plus every Python worker it forked. The
harness process itself (driver-side Python, fixture generator, mock Solr)
is not part of it.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
#: one sample costs ~2 ms of harness CPU
RSS_SAMPLE_S = 0.1


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def driver_heap_mb() -> int:
    """A quarter of physical memory, clamped to [1 GiB, 8 GiB].

    MemTotal rather than MemAvailable: the heap must not change between
    runs because a neighbour's page cache grew."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                break
        else:
            raise RuntimeError("/proc/meminfo has no MemTotal")
    return max(1024, min(8192, total_mb // 4))


def configure_env(work: str) -> None:
    """Point every temp file of the run into ``work`` (inherited by the JVM
    and its Python workers) and make the library importable by workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    root = os.getcwd()
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])


def start_session(work: str):
    from pyspark.sql import SparkSession

    n = cpus()
    heap = driver_heap_mb()
    tmp = os.path.join(work, "tmp")
    return (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap}m")
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -XX:-UsePerfData -Xms{heap}m "
            f"-Djava.io.tmpdir={tmp}",
        )
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def stop_session(spark) -> None:
    """Stop the session AND its JVM, so the next ``start_session`` pays a
    full cold start (JVM launch, JIT, Python worker fork)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes; kill if it lingers
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _children() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


class ProcTree:
    """CPU and RSS of a process and all its descendants.

    CPU counts utime+stime plus cutime+cstime, so a worker that exits and
    is reaped inside the tree keeps its CPU in its parent's total."""

    def __init__(self, root: int):
        self.root = root

    def pids(self) -> list:
        kids = _children()
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, ()))
        return out

    def cpu_s(self) -> float:
        ticks = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/stat") as fh:
                    f = fh.read()
            except OSError:
                continue
            fields = f[f.rindex(")") + 2 :].split()
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / CLK_TCK

    def rss_mb(self) -> float:
        """RSS of the root and its Python descendants. Other descendants
        are short-lived helpers the JVM spawns (Hadoop's local file system
        forks ``chmod`` per written file); until they exec they share the
        JVM's address space and would count its RSS twice."""
        pages = 0
        for p in self.pids():
            try:
                if p != self.root:
                    with open(f"/proc/{p}/comm") as fh:
                        if not fh.read().startswith("python"):
                            continue
                with open(f"/proc/{p}/statm") as fh:
                    pages += int(fh.read().split()[1])
            except OSError:
                continue
        return pages * PAGE / (1 << 20)


class PeakRss:
    """Samples ``ProcTree.rss_mb`` every ``RSS_SAMPLE_S`` on a thread while
    active; ``peak`` is the highest sample seen across all active
    intervals."""

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.rss_mb())
            self._stop.wait(RSS_SAMPLE_S)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.tree.rss_mb())

