"""Host context: cores, load and steal from /proc, a CPU calibration loop,
and the process tree's RSS."""

from __future__ import annotations

import os
import threading
import time

# A run whose steal share (hypervisor time taken from this guest) exceeds
# this is flagged hot_window: its timings are not comparable to a calm run.
# On the baseline host calm runs show under 0.05 % steal, and runs slowed
# by a fifth or more showed 0.1-0.9 %.
HOT_STEAL_SHARE = 0.001


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def calibrate() -> float:
    """Seconds for a fixed single-threaded loop, median of 5: a run whose
    figure is well above another run's had a slower CPU to work with,
    whatever steal says."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        acc = 0
        for i in range(500_000):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t)
    return sorted(times)[2]


def snapshot() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    total, steal = _cpu_jiffies()
    return {
        "nproc": os.cpu_count(), "loadavg": load, "jiffies": total, "steal": steal,
        "calib_s": calibrate(),
    }


def context(before: dict, after: dict) -> dict:
    """Host record for one run: nproc, loadavg and the calibration loop
    before and after, and the steal share of all CPU time in between."""
    d_total = after["jiffies"] - before["jiffies"]
    share = (after["steal"] - before["steal"]) / d_total if d_total > 0 else 0.0
    return {
        "nproc": before["nproc"],
        "loadavg_before": before["loadavg"],
        "loadavg_after": after["loadavg"],
        "calib_s_before": round(before["calib_s"], 5),
        "calib_s_after": round(after["calib_s"], 5),
        "steal_share": round(share, 5),
        "hot_window": share > HOT_STEAL_SHARE,
    }


def _process_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, resident pages by pid) of every process."""
    children: dict[int, list[int]] = {}
    rss_pages: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss_pages[int(name)] = int(f.read().split()[1])
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command field may contain spaces; ppid follows its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children, rss_pages


def descendants(root_pid: int, children: dict[int, list[int]] | None = None) -> list[int]:
    if children is None:
        children, _ = _process_table()
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    children, rss_pages = _process_table()
    pages = sum(rss_pages.get(p, 0) for p in [root_pid, *descendants(root_pid, children)])
    return pages * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Samples the RSS of this process and all its descendants (the JVM
    and its Python workers) on a background thread; ``peak_mb`` is the
    largest sample."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
