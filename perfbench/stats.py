"""Small statistics helpers shared by the runner and its tests."""

from __future__ import annotations

import math
import os


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    xs = sorted(samples)
    return xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]


def beyond(samples: list[float], q: float) -> int:
    """How many samples lie strictly above the ``q`` percentile."""
    p = percentile(samples, q)
    return sum(x > p for x in samples)


def p90_if_supported(samples: list[float]) -> float | None:
    """p90, or ``None`` when fewer than 10 samples lie beyond it."""
    if not samples or beyond(samples, 90.0) < 10:
        return None
    return percentile(samples, 90.0)


def highest_supported_percentile(samples: list[float]) -> float | None:
    """The highest of p50/p90/p99/p99.9 with at least 10 samples beyond it."""
    best = None
    for q in (50.0, 90.0, 99.0, 99.9):
        if samples and beyond(samples, q) >= 10:
            best = q
    return best


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int], dict[int, str]]:
    """(ppid -> child pids, pid -> resident bytes, pid -> command name)
    for every process."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    comm: dict[int, str] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:  # process exited while scanning
            continue
        fields = tail.split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)  # ppid
        rss[pid] = int(fields[21]) * page  # rss in pages
        comm[pid] = head.split("(", 1)[1]
    return children, rss, comm


def _tree(children: dict[int, list[int]], root_pid: int) -> list[int]:
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_parts(root_pid: int) -> dict[str, int]:
    """Resident bytes of ``root_pid`` (``driver``), the JVM it started
    (``jvm``) and every Python process below them (``workers``), from
    /proc. Other descendants are helper processes the JVM spawns for a
    moment (a file-permission call, say): until they exec they share the
    JVM's memory and would count it twice."""
    children, rss, comm = _proc_table()
    parts = {"driver": rss.get(root_pid, 0), "jvm": 0, "workers": 0}
    for pid in _tree(children, root_pid)[1:]:
        if comm.get(pid, "").startswith("python"):
            parts["workers"] += rss.get(pid, 0)
        elif pid in children.get(root_pid, ()):
            parts["jvm"] += rss.get(pid, 0)
    return parts



def descendants(root_pid: int) -> list[int]:
    """Live descendants of ``root_pid`` (zombies excluded)."""
    children, rss, _comm = _proc_table()
    return [p for p in _tree(children, root_pid)[1:] if rss.get(p)]


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])
