"""Shared plumbing: Spark session fitted to the host, scratch directory,
memory sampling, percentiles and the result line."""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_state() -> dict:
    """nproc, load average and the CPU time the hypervisor has taken from
    this machine since boot (``steal_s``; its growth over a run shows a
    host busy with other tenants)."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return {"nproc": nproc(), "loadavg": [round(x, 2) for x in os.getloadavg()],
            "steal_s": steal / os.sysconf("SC_CLK_TCK")}


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean_of_medians(samples: dict[str, list[float]]) -> float:
    """Geometric mean over call kinds of each kind's median latency:
    every kind counts once, however often the mix calls it."""
    meds = [median(v) for v in samples.values() if v]
    return math.exp(sum(math.log(x) for x in meds) / len(meds))


def topk_ok(got: list[tuple[int, float]], ids, scores, row_of: dict[int, int],
            k: int, tol: float = 1e-9) -> bool:
    """Whether ``got`` (id, score) pairs are the exact top-``k`` of the
    reference ``scores`` (NumPy array aligned with ``ids``; ``row_of``
    maps id to row), ordered by score descending, then id descending.

    Scores may differ from the reference by ``tol`` (the engine sums in
    another order), so ids whose scores lie within ``tol`` of each other
    may come in either order, and either may take the k-th place."""
    import numpy as np

    want = np.lexsort((-ids, -scores))[:k]
    if len(got) != len(want) or len({i for i, _ in got}) != len(got):
        return False
    for (gi, gs), w in zip(got, want):
        if gi not in row_of or abs(scores[row_of[gi]] - gs) > tol or abs(gs - scores[w]) > tol:
            return False
    return all(
        a_s >= b_s - tol and (a_s != b_s or ai > bi)
        for (ai, a_s), (bi, b_s) in zip(got, got[1:])
    )


def dir_bytes(path: str) -> int:
    """Bytes of all files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class RunDir:
    """Scratch directory inside the checkout, removed on exit."""

    def __init__(self, workload: str):
        self.path = os.path.join(ROOT, ".perfbench_run", f"{workload}-{os.getpid()}")
        if os.path.exists(self.path):
            shutil.rmtree(self.path)
        os.makedirs(os.path.join(self.path, "tmp"))

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_session(run_dir: RunDir, app: str):
    """Create the SparkSession through the program's own factory, fitted
    to this host: ``local[nproc]``, a driver heap sized to the machine's
    RAM (via ``SVS_DRIVER_MEMORY``), no console progress bars and no JVM
    unified logging (stdout must stay parseable), and every scratch file
    under the run directory. Returns (spark, seconds taken)."""
    gb = max(1, min(4, mem_total_bytes() // (4 << 30)))
    os.environ["SVS_DRIVER_MEMORY"] = f"{gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = run_dir.sub("tmp")
    os.environ["TMPDIR"] = run_dir.sub("tmp")
    # Spark's Python workers import svs_spark and the benchmark's
    # embedding function by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    t0 = time.perf_counter()
    from svs_spark.session import get_session

    spark = get_session(
        app,
        master=f"local[{nproc()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # prepended to the program's own extraJavaOptions
            "spark.driver.defaultJavaOptions": (
                f"-Xlog:disable -XX:-UsePerfData -Djava.io.tmpdir={run_dir.sub('tmp')}"
            ),
            "spark.sql.warehouse.dir": run_dir.sub("spark-warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def descendants(root_pid: int) -> set[int]:
    """Pids of every live descendant of ``root_pid``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    found, stack = set(), [root_pid]
    while stack:
        for c in children.get(stack.pop(), ()):
            found.add(c)
            stack.append(c)
    return found


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants
    (Linux ``PR_SET_CHILD_SUBREAPER``), so Spark's Python workers stay
    in this process tree, and can be waited for, after the JVM that
    forked them has exited."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_processes(pids: set[int], grace_s: float = 10.0) -> None:
    """Terminate ``pids`` and every descendant of this process, then wait
    until each has exited: SIGTERM, then SIGKILL after ``grace_s``."""
    def alive() -> set[int]:
        _reap()
        live = descendants(os.getpid())
        # a pid that left the tree (orphaned to init) counts until it is gone
        live |= {p for p in pids if os.path.exists(f"/proc/{p}")}
        return live

    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 60.0)):
        deadline = time.monotonic() + wait_s
        for p in alive():
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        while time.monotonic() < deadline:
            if not alive():
                return
            time.sleep(0.05)
    raise RuntimeError(f"processes did not exit: {sorted(alive())}")


def stop_session(spark) -> None:
    """Stop Spark and end every process the run started, waiting for
    each: the Spark JVM (PySpark's gateway child, which exits when its
    stdin closes) and the Python workers it forked. Safe to call when
    the session never came up (``spark`` None, JVM maybe running)."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            try:
                if proc.stdin is not None:
                    proc.stdin.close()
                proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        end_processes(started)


def _proc_tree_pss(root_pid: int) -> int:
    """Summed proportional set size (bytes) of ``root_pid`` and all its
    descendants: resident memory, with pages shared between forked
    Python workers counted once in total."""
    total = 0
    for p in {root_pid} | descendants(root_pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the peak resident memory of this process
    tree (driver Python + Spark JVM + Python workers), as summed PSS."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _proc_tree_pss(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _proc_tree_pss(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


class Tally:
    """Counts attempted and failed operations and keeps the first few
    failure messages. A failure is an exception or a wrong output."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, msg: str, n: int = 1) -> None:
        self.attempted += n
        self.failed += n
        if len(self.messages) < 20:
            self.messages.append(msg)

    def check(self, cond: bool, msg: str) -> bool:
        if cond:
            self.ok()
        else:
            self.fail(msg)
        return cond


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(correct: bool, tally: Tally, metrics: dict) -> None:
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(tally.attempted),
        "failed": int(tally.failed),
        "metrics": metrics,
    }), flush=True)
