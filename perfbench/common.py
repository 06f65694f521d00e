"""Process, session and statistics helpers shared by every workload."""

from __future__ import annotations

import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
DRIVER_HEAP = "2g"


def work_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    os.makedirs(path, exist_ok=True)
    return path


def confine_temp_files(run_dir: str) -> None:
    """Point every temp-file writer (Python's tempfile, the JVM, Spark's
    scratch space) into ``run_dir`` so a run writes only inside the
    checkout. Must run before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # spark-submit's launcher JVM: no perf-data file under /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp


def start_spark(run_dir: str, extra_conf: dict[str, str] | None = None):
    """A ``local[4]`` session with an explicit driver heap; the JVM's
    temp dir is the run dir and it keeps no perf-data file in /tmp.

    The heap is fixed and touched at start-up: a heap that grows on
    demand made peak RSS follow the collector's sizing decisions (1.6 to
    2.3 GB across runs of the same workload), so peak RSS moves only with
    the memory the program holds beyond it."""
    from milvus_cdc_spark import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra_conf or {})
    return get_spark(
        app_name="perfbench", master=f"local[{CORES}]", extra_conf=conf
    )


# ------------------------------------------------------------ process tree
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its descendants: a Python worker
    whose JVM has exited is re-parented here, so :func:`stop_processes`
    can wait for it. Best effort outside Linux."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap(deadline: float) -> bool:
    """Reap ended children until none is left (True) or the deadline."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            if time.monotonic() >= deadline:
                return False
            time.sleep(0.05)


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the Spark JVM this process launched and every process under
    it, and wait until each has ended. Closing the gateway's stdin tells
    the JVM to exit; whatever still runs after ``grace_s`` is killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if not _reap(time.monotonic() + grace_s):
        for pid in tree_pids():
            if pid != os.getpid():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        _reap(time.monotonic() + grace_s)


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, utime ticks, stime ticks) for every live process."""
    procs: dict[int, tuple[int, int, int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                data = f.read()
        except OSError:
            continue
        fields = data[data.rfind(b")") + 2:].split()
        procs[int(pid)] = (int(fields[1]), int(fields[11]), int(fields[12]))
    return procs


def tree_pids() -> list[int]:
    """This process and every live descendant (JVM, Python workers)."""
    procs = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _u, _s) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        if p in procs:
            out.append(p)
        stack.extend(children.get(p, []))
    return out


def tree_cpu() -> tuple[float, float]:
    """(user, system) CPU seconds of the live process tree."""
    clk = os.sysconf("SC_CLK_TCK")
    procs = _proc_table()
    u = s = 0
    for pid in tree_pids():
        if pid in procs:
            u += procs[pid][1]
            s += procs[pid][2]
    return u / clk, s / clk


def tree_write_bytes() -> int:
    """Bytes the live process tree caused to be written to storage."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over the live process tree."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class Meter:
    """Wall, CPU and storage writes of the process tree over a region,
    and the host's steal time, which explains a slow run."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.cpu0 = tree_cpu()
        self.w0 = tree_write_bytes()
        self.steal0 = host_steal_s()

    def stop(self) -> dict[str, float]:
        wall = time.perf_counter() - self.t0
        u, s = tree_cpu()
        return {
            "wall_s": wall,
            "cpu_user_s": u - self.cpu0[0],
            "cpu_sys_s": s - self.cpu0[1],
            "write_bytes": tree_write_bytes() - self.w0,
            "peak_rss_mb": tree_peak_rss_mb(),
            "host_steal_s": host_steal_s() - self.steal0,
        }


# -------------------------------------------------------------- statistics
def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


# ----------------------------------------------------------------- settings
def fs_type(path: str) -> str:
    """Filesystem type of ``path`` from /proc/mounts (longest prefix)."""
    best, kind = "", "unknown"
    real = os.path.realpath(path)
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if real.startswith(mnt) and len(mnt) > len(best):
                    best, kind = mnt, parts[2]
    except OSError:
        pass
    return kind


def git_commit() -> str:
    """Commit of the checkout, or "none" outside a git repository."""
    head = os.path.join(ROOT, ".git")
    if not os.path.exists(head) or shutil.which("git") is None:
        return "none"
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
    )
    return out.stdout.strip() or "none"


def settings(spark, args, shape: dict) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "driver_heap": DRIVER_HEAP,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "jdk": spark._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": git_commit(),
        "table_location": f"{WORK} ({fs_type(WORK)})",
        "input_shape": shape,
        "argv": sys.argv,
    }
