"""Paths, process-tree accounting and small statistics shared by the
benchmark modules.

Everything the benchmark writes lives under ``<checkout>/.wxbench``:
generated inputs (``cache/``), job outputs (``out/``), Spark and Python
scratch space (``tmp/``), per-run records (``results/``) and traced-run
spans (``trace/``).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".wxbench")
CACHE = os.path.join(WORK, "cache")
OUT = os.path.join(WORK, "out")
TMP = os.path.join(WORK, "tmp")
RESULTS = os.path.join(WORK, "results")
TRACES = os.path.join(WORK, "trace")

CLK_TCK = os.sysconf("SC_CLK_TCK")


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def import_program() -> None:
    """Put the checkout on sys.path and import the program under test.
    Raises ImportError when the checkout holds no ``webextract``."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import webextract  # noqa: F401


def spark_env(cpus: int) -> None:
    """Environment for the Spark JVM and its Python workers, set before
    the JVM starts: scratch space inside the checkout, a 2 GB JVM
    heap, no console progress bar, and the C1 JIT only: with C2 the JVM
    kept recompiling for 6+ jobs and its CPU per job drifted from 6.3 to
    2.4 s across a run; with C1 it is flat (1.5-2.0 s) from the second
    job on, and lower."""
    for d in (TMP, os.path.join(TMP, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(TMP, "spark-local")
    os.environ["WEBEXTRACT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-memory 2g",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={os.path.join(TMP, 'spark-local')}",
        f'--driver-java-options "-Djava.io.tmpdir={TMP} -XX:-UsePerfData -XX:TieredStopAtLevel=1"',
        "pyspark-shell",
    ])


# ---------------------------------------------------------------- /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: fields restart after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids = children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> tuple[float, float]:
    """User+sys CPU seconds of the live tree under ``root``, including
    children that exited and were reaped (cutime/cstime), and of
    ``root`` alone."""
    ticks = own = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
            if pid == root:
                own = sum(int(x) for x in st[11:13])
    return ticks / CLK_TCK, own / CLK_TCK


def _busy_steal() -> tuple[int, int]:
    """(busy ticks, stolen ticks) summed over this machine's CPUs since
    boot. Steal is time a vCPU wanted to run but the hypervisor ran
    someone else; an idle vCPU accrues none."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


class StealClock:
    """Wall time of a block, and the same wall with the share of this
    machine's wanted CPU time that the hypervisor withheld taken out:
    ``adjusted = wall * busy / (busy + steal)``. On a dedicated host the
    two agree; on a shared one the adjusted figure estimates the wall
    without the neighbours."""

    def __enter__(self):
        self.b0, self.s0 = _busy_steal()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        b1, s1 = _busy_steal()
        busy, steal = b1 - self.b0, s1 - self.s0
        self.steal_frac = steal / (busy + steal) if busy + steal else 0.0
        self.adjusted = self.wall * (1.0 - self.steal_frac)
        return False


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def hwm_mb(pid: int) -> float:
    """Kernel high-water mark of resident memory (VmHWM), in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def python_workers(jvm_pid: int) -> list[int]:
    """PySpark Python workers: the children of the ``pyspark.daemon``
    process(es) the JVM started."""
    kids = children_map()
    daemons = [p for p in tree(jvm_pid) if "pyspark.daemon" in cmdline(p)
               and "pyspark.daemon" not in cmdline(_ppid(p))]
    return [w for d in daemons for w in kids.get(d, [])]


def _ppid(pid: int) -> int:
    st = _stat(pid)
    return int(st[1]) if st else 0


# ---------------------------------------------------------------- reaping

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt this process's orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a process whose parent ends first, such
    as the PySpark daemon after the JVM, is re-parented here instead of
    to init, so ``reap_children`` still finds it."""
    import ctypes
    try:
        ctypes.CDLL(None, use_errno=True).prctl(
            PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap_children(grace_s: float = 10.0) -> None:
    """Stop every process this one started and wait until each has
    ended. multiprocessing's resource tracker (started by the input
    generation pool) is closed first, the way it expects; anything still
    alive then gets SIGTERM, and SIGKILL after ``grace_s``."""
    import gc
    import signal
    from multiprocessing import resource_tracker

    gc.collect()  # finalise pool semaphores while the tracker still runs
    resource_tracker._resource_tracker._stop()
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    signalled: set[int] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children left, live or zombie
        late = time.monotonic() > deadline
        for pid in children_map().get(me, []):
            if pid not in signalled or late:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)


# ---------------------------------------------------------------- stats


def median(xs):
    return statistics.median(xs)


def quartiles(xs) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def du(path: str, suffix: str = "") -> int:
    """Bytes of the regular files under ``path`` whose names end in
    ``suffix`` (Spark's ``_SUCCESS``/``.crc`` files excluded)."""
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(suffix) and not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dp, f))
    return total


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")
    os.replace(tmp, path)
