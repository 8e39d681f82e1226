"""Host environment: pinned Spark settings, load and memory from /proc,
and stopping the processes a run starts."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import threading
import time

#: prctl option that makes orphaned descendants children of the caller
PR_SET_CHILD_SUBREAPER = 36


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(total_mb: int) -> int:
    """1 GiB, or a fifth of a host smaller than 5 GiB (never below 512 MiB):
    the session's own default (48g) exceeds many hosts, and the inputs are
    small enough that a 1 GiB heap fills, so the JVM's resident size
    follows the run rather than when the collector decides to grow it."""
    return max(512, min(1024, total_mb // 5))


def pin_spark_env(state_root: str) -> dict[str, str]:
    """Set the environment the engine's session reads, before Spark
    starts; every scratch path stays under ``state_root``."""
    local = os.path.join(state_root, "spark-local")
    tmp = os.path.join(state_root, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEMORY": f"{driver_memory_mb(mem_total_mb())}m",
        "TMPDIR": tmp,
    }
    os.environ.update(pinned)
    for var in ("SPARK_MASTER", "SPARK_GRAFT_CHECKPOINT", "SPARK_GRAFT_AUDIT"):
        os.environ.pop(var, None)
    return pinned


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_probe_ms(reps: int = 3) -> float:
    """Best-of-``reps`` time of a fixed pure-Python loop: how fast the
    machine runs at the moment, recorded so that runs made while a shared
    host was slower can be told apart from a slower program."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def descendants(root_pid: int) -> list[int]:
    """Pids of every process below ``root_pid`` (zombies too), from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


def become_subreaper() -> None:
    """Adopt orphaned descendants (Python workers whose JVM has exited),
    so ``stop_tree`` can wait for them rather than leave them to init."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: stop_tree still signals every descendant


def stop_tree(gateway_proc=None, grace_s: float = 20.0) -> None:
    """Stop every process this one started and wait until each has ended.

    The JVM leaves when its stdin closes (it runs its shutdown hooks
    first); whatever is still alive after ``grace_s`` is killed. Every
    child, adopted ones included, is reaped before this returns."""
    if gateway_proc is not None and gateway_proc.poll() is None:
        try:
            gateway_proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            gateway_proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            pass
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = descendants(me)
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline and _alive(descendants(me)):
            _reap()
            time.sleep(0.05)
    _reap()


def _alive(pids: list[int]) -> bool:
    """Whether any of ``pids`` is a process that has not yet exited."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state not in ("Z", "X"):
            return True
    return False


def _reap() -> None:
    """Collect every child that has exited, without blocking."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


class RssSampler:
    """Peak resident memory of this process tree (Python driver, JVM,
    Python workers), sampled from /proc on a background thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
