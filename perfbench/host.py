"""Process-tree memory sampling and the per-run host record, read from
/proc (psutil is not available).

The host record is printed with every run so that two sets of runs can be
compared knowing what else the machine was doing; it never gates a run.
"""

from __future__ import annotations

import os
import select
import subprocess
import sys
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name may hold spaces or parentheses: split after it
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n times. Python workers are forked from one
    daemon, so a plain RSS sum would count the pages they share with it
    once per live worker."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(pid: int, skip: int | None = None) -> int:
    """Summed memory (PSS) of ``pid`` and all its descendants but ``skip``."""
    total = 0
    for p in [pid, *descendants(pid)]:
        if p == skip:
            continue
        try:
            total += _pss_bytes(p)
        except OSError:  # the process ended while we sampled it
            continue
    return total


class RssSampler:
    """Samples the summed memory of this process tree and keeps the peak.

    The sampling runs in a child process, not on a thread: one sample
    reads ``smaps_rollup`` of every process in the tree, tens of
    milliseconds of parsing that a thread would spend holding the GIL
    which the PySpark driver and the HTTP server threads need. The child
    leaves itself out of the sum and exits when its stdin closes."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._proc: subprocess.Popen | None = None

    def __enter__(self) -> "RssSampler":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid()), str(self.interval_s)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        return self

    def __exit__(self, *exc) -> None:
        try:
            out, _ = self._proc.communicate(b"", timeout=30)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            out, _ = self._proc.communicate()
        self.peak_bytes = int(out.split()[-1]) if out.strip() else 0


def _sample_until_stdin_closes(pid: int, interval_s: float) -> int:
    me, peak = os.getpid(), 0
    while True:
        peak = max(peak, tree_rss_bytes(pid, skip=me))
        ready, _, _ = select.select([sys.stdin], [], [], interval_s)
        if ready:  # EOF: the benchmark process is done (or gone)
            return max(peak, tree_rss_bytes(pid, skip=me))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(window_s: float = 0.2) -> float:
    """Share of CPU time stolen by the hypervisor over a short window."""
    a = _cpu_times()
    time.sleep(window_s)
    b = _cpu_times()
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8]) or 1
    return round(100.0 * d[7] / total, 2) if len(d) > 7 else 0.0


def snapshot() -> dict:
    """Load average and steal share now."""
    return {"loadavg": [round(x, 2) for x in os.getloadavg()], "steal_pct": steal_pct()}


def cpus_in_use() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        return os.cpu_count() or 1


if __name__ == "__main__":
    # the sampler child: python3 host.py <pid> <interval_s>; prints the peak in bytes
    print(_sample_until_stdin_closes(int(sys.argv[1]), float(sys.argv[2])), flush=True)
