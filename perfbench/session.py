"""One Spark session and launch helper for every perfbench workload.

Everything the benchmark writes stays under one work directory inside
the checkout: Spark's local dirs, the JVM's and Python's temp dirs, the
warehouse dir and the engine stores. The session runs on ``local[N]``
with N from ``SPARK_GRAFT_CPUS`` or the CPU count, uses N shuffle
partitions, and sizes driver memory to the host instead of asking for a
fixed amount.
"""

from __future__ import annotations

import os
import resource
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> tuple[int, float, float] | None:
    """(parent pid, CPU seconds of the process, CPU seconds of the
    children it has reaped), or None once it has exited."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            fields = f.read().rsplit(b")", 1)[1].split()
    except OSError:
        return None
    # after the command: state ppid ... utime stime cutime cstime
    ticks = [int(x) for x in fields[11:15]]
    return int(fields[1]), (ticks[0] + ticks[1]) / CLK_TCK, (ticks[2] + ticks[3]) / CLK_TCK


def _thread_cpu_ns(pid: int, tid: int) -> int | None:
    """CPU nanoseconds thread ``tid`` of process ``pid`` has run (exact,
    where ``/proc/<pid>/stat`` counts 10 ms ticks), or None once it
    has ended."""
    try:
        with open(f"/proc/{pid}/task/{tid}/schedstat", "rb") as f:
            return int(f.read().split()[0])
    except OSError:
        return None


def cpu_count() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of physical memory, clamped to [1 GiB, 4 GiB]: the
    benchmark's largest table is a few tens of MB, and the host may be
    shared."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return int(min(4096, max(1024, total // 4 // (1 << 20))))


def prepare_environment(work_dir: str) -> None:
    """Point every temp location at ``work_dir`` and put the repo on
    ``PYTHONPATH`` so Spark's Python workers (UDFs, Python data
    sources) import the engine package from any working directory.
    Must run before the JVM starts: it inherits this environment."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    paths = [REPO_ROOT] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)


class BenchSession:
    """Owns the SparkSession and the JVM it launched. ``close`` stops
    Spark, ends the JVM and waits for it."""

    def __init__(self, work_dir: str, app_name: str) -> None:
        from pyspark.sql import SparkSession

        prepare_environment(work_dir)
        self.cpus = cpu_count()
        tmp = os.environ["TMPDIR"]
        mem = driver_memory_mb()
        local_dir = os.path.join(work_dir, "spark-local")
        os.makedirs(local_dir, exist_ok=True)
        # the environment variable would override spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = local_dir
        self.spark = (
            SparkSession.builder.master(f"local[{self.cpus}]")
            .appName(app_name)
            .config("spark.sql.shuffle.partitions", str(self.cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.driver.memory", f"{mem}m")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", local_dir)
            .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
            # a fixed heap and young generation: GC sizing decisions
            # would otherwise make peak memory differ from run to run.
            # No perf-data file: HotSpot writes it under /tmp whatever
            # java.io.tmpdir says. A fixed set of JIT compiler threads,
            # so ``cpu_s`` can leave their CPU time out.
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms{mem}m -Xmn{mem // 4}m -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads",
            )
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(
            self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )
        self.jit_tids = set()
        for tid in os.listdir(f"/proc/{self.jvm_pid}/task"):
            try:
                with open(f"/proc/{self.jvm_pid}/task/{tid}/comm") as f:
                    if "CompilerThre" in f.read():
                        self.jit_tids.add(int(tid))
            except OSError:  # a thread that has just ended
                pass
        self._thread_ns: dict[int, int] = {}  # JVM thread -> CPU ns last read
        self._ended_ns = 0  # CPU ns of JVM threads that have ended
        self._clock_cpu_s = 0.0  # this process's CPU spent reading the clock

    def jit_cpu_s(self) -> float:
        """CPU seconds the JVM's JIT compiler threads have used."""
        return sum(_thread_cpu_ns(self.jvm_pid, t) or 0 for t in self.jit_tids) / 1e9

    def _jvm_threads_s(self) -> float:
        """CPU seconds of the JVM's threads other than its JIT compilers;
        a thread that has ended counts with its last reading."""
        now = {}
        for name in os.listdir(f"/proc/{self.jvm_pid}/task"):
            tid = int(name)
            if tid not in self.jit_tids:
                ns = _thread_cpu_ns(self.jvm_pid, tid)
                if ns is not None:
                    now[tid] = ns
        self._ended_ns += sum(ns for t, ns in self._thread_ns.items() if t not in now)
        self._thread_ns = now
        return (self._ended_ns + sum(now.values())) / 1e9

    def _jvm_children_s(self) -> float:
        """CPU seconds of the processes the JVM started (Spark's Python
        workers), each with the children it has reaped, and of the
        children the JVM itself has reaped."""
        procs = {}
        # the JVM's descendants were started after it: larger pids
        for name in os.listdir("/proc"):
            if name.isdigit() and int(name) >= self.jvm_pid:
                st = _proc_stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        if self.jvm_pid not in procs:
            return 0.0
        total = procs[self.jvm_pid][2]
        inside = {self.jvm_pid}
        for pid in sorted(procs):  # parents before their children
            ppid, own, reaped = procs[pid]
            if ppid in inside:
                inside.add(pid)
                total += own + reaped
        return total

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver to run the work: the
        JVM's threads less its JIT compilers, the processes under the
        JVM and this Python process, less what reading this clock
        cost. Time the hypervisor stole from the VM is not CPU time, so
        on a shared host this clock runs steadier than the wall clock.
        JIT compilation goes on in the background long after warm-up
        (Spark generates classes for every new plan) and charges
        whichever op happens to be running, so it is left out;
        ``jit_cpu_s`` reports it."""
        py0 = time.process_time()
        others = self._jvm_threads_s() + self._jvm_children_s()
        py1 = time.process_time()
        self._clock_cpu_s += py1 - py0
        return others + py1 - self._clock_cpu_s

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver: this Python process plus
        the JVM (``VmHWM``)."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    def close(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
