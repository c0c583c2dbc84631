"""Host and process-tree readings from /proc: CPU steal, CPU used outside
the benchmark, and CPU time and resident memory of the benchmark's own
process tree (this process, the Spark JVM and every Python worker)."""

from __future__ import annotations

import os
import threading
import time

CLK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_cpu() -> dict[str, float]:
    """Whole-host CPU seconds so far: busy (user, nice, system, irq,
    softirq) and steal, summed over all CPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    busy = f[0] + f[1] + f[2] + f[5] + f[6]
    return {"busy_s": busy / CLK, "steal_s": f[7] / CLK}


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: fields start after the last ')'
    return data[data.rfind(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User+system CPU of the tree, including children it has reaped (a
    Python worker that exited counts in its parent's cutime/cstime)."""
    total = 0
    for pid in tree_pids():
        st = _stat(str(pid))
        if st is not None:
            total += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
    return total / CLK


def tree_rss_mb() -> float:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            pass
    return total * PAGE / 2**20


class RssSampler:
    """Background thread sampling the tree's resident memory while armed;
    ``peak_mb`` is the largest sum seen during armed intervals."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak_mb = 0.0
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._armed.is_set():
                self.peak_mb = max(self.peak_mb, tree_rss_mb())
            time.sleep(self.INTERVAL_S)

    def arm(self) -> None:
        self._armed.set()

    def disarm(self) -> None:
        if self._armed.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
        self._armed.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _alive(pid: int) -> bool:
    st = _stat(str(pid))
    return st is not None and st[0] != "Z"


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait for every pid to end (workers re-parented away from this tree
    when the JVM exits are still waited for); SIGKILL what outlives
    ``timeout_s``."""
    import signal

    for limit, kill in ((timeout_s, True), (5.0, False)):
        deadline = time.time() + limit
        while time.time() < deadline:
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.1)
        if kill:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
