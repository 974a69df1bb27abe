"""Run isolation and host telemetry.

Every run works in a private directory inside the checkout: TMPDIR, the
Spark warehouse, SPARK_LOCAL_DIRS and the JVM's ``java.io.tmpdir`` all
point into it, so the persisted state the engine keys under the temp dir
(``*_index_*``, ``dedup_state_*``, ``warc_archive_*``) can never leak from
one run into the next. The directory is purged before and after the run,
and the purged entries are recorded in the result file.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

WORK_DIR = ".perfbench_work"


class RunDirs:
    def __init__(self, checkout: str, tag: str):
        self.base = os.path.join(checkout, WORK_DIR)
        self.results = os.path.join(self.base, "results")
        self.root = os.path.join(self.base, "runs", f"{tag}-{os.getpid()}")
        self.tmp = os.path.join(self.root, "tmp")
        self.local = os.path.join(self.root, "spark-local")
        self.warehouse = os.path.join(self.root, "spark-warehouse")
        self.purged: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def open(self) -> None:
        """Purge stale run dirs (from runs that died), create this run's
        dirs and point every temp-dir setting of the engine at them."""
        runs = os.path.dirname(self.root)
        if os.path.isdir(runs):
            for name in sorted(os.listdir(runs)):
                pid = name.rsplit("-", 1)[-1]
                if pid.isdigit() and _alive(int(pid)) and int(pid) != os.getpid():
                    continue
                self._purge(os.path.join(runs, name))
        for d in (self.tmp, self.local, self.warehouse, self.results):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ["SPARK_WAREHOUSE_DIR"] = self.warehouse
        tempfile.tempdir = self.tmp

    def spark_conf(self) -> dict[str, str]:
        opt = f"-Djava.io.tmpdir={self.tmp}"
        return {
            "spark.driver.extraJavaOptions": opt,
            "spark.executor.extraJavaOptions": opt,
            "spark.local.dir": self.local,
        }

    def close(self) -> None:
        if os.path.isdir(self.tmp):
            for name in sorted(os.listdir(self.tmp)):
                self.purged.append(f"tmp/{name}")
        self._purge(self.root)
        tempfile.tempdir = None

    def _purge(self, path: str) -> None:
        if os.path.exists(path):
            self.purged.append(os.path.relpath(path, self.base))
            shutil.rmtree(path, ignore_errors=True)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def dir_bytes(path: str, since: float = 0.0) -> tuple[int, int]:
    """``(bytes, files)`` of the data files under ``path`` modified at or
    after ``since`` (epoch seconds); hidden and marker files are skipped."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(root, n))
            if st.st_mtime >= since:
                total += st.st_size
                files += 1
    return total, files


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class CpuWindow:
    """Host CPU accounting between :meth:`start` and :meth:`stop` from
    ``/proc/stat``: steal and busy shares of all CPU time on the host."""

    def start(self) -> None:
        self.t0, self.c0 = time.time(), _cpu_times()

    def stop(self) -> dict:
        c1 = _cpu_times()
        d = [b - a for a, b in zip(self.c0, c1)]
        total = sum(d[:8]) or 1  # guest time is already inside user time
        idle = d[3] + d[4]
        return {
            "seconds": round(time.time() - self.t0, 3),
            "steal_pct": round(100.0 * d[7] / total, 3),
            "busy_pct": round(100.0 * (total - idle) / total, 3),
        }


def host_info() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
    }


class WorkCpu:
    """CPU seconds (user + system) that ``pids`` have used, less the time of
    the JVM's JIT compiler threads.

    The JIT compiles code that each query's execution generates anew, so it
    never settles, and how far it has got depends on the CPU it was given;
    the work the program itself does stays the same. The process totals of
    ``/proc/<pid>/stat`` include threads that have exited; the compiler
    threads live as long as the JVM (``JVM_OPTIONS`` turns off dynamic
    compiler threads), so their ``schedstat`` run time can be subtracted.
    Unlike latency, CPU time leaves out the time a thread waited for a CPU;
    where the guest kernel charges stolen time to the thread that was
    running, it still grows with the host's steal, but less than latency."""

    def __init__(self, pids: list[int]):
        self.pids = pids
        self.jit = []
        for pid in pids:
            for tid in os.listdir(f"/proc/{pid}/task"):
                try:
                    name = _read(f"/proc/{pid}/task/{tid}/comm")
                except (FileNotFoundError, ProcessLookupError):  # the thread has ended
                    continue
                if "Compiler" in name:
                    self.jit.append(f"/proc/{pid}/task/{tid}/schedstat")

    def __call__(self) -> float:
        tick = os.sysconf("SC_CLK_TCK")
        total = 0.0
        for pid in self.pids:
            fields = _read(f"/proc/{pid}/stat").rsplit(")", 1)[1].split()
            total += (int(fields[11]) + int(fields[12])) / tick
        return total - sum(int(_read(f).split()[0]) for f in self.jit) / 1e9


#: lets :class:`WorkCpu` find every JIT compiler thread once, at JVM start
JVM_OPTIONS = "-XX:-UseDynamicNumberOfCompilerThreads"


def _read(path: str) -> str:
    with open(path) as fh:
        return fh.read()


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except FileNotFoundError:
            continue
    return kb / 1024.0

