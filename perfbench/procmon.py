"""Resource probes read straight from ``/proc`` and the file system.

``RssSampler`` polls the resident set size of this process and every
descendant (the driver JVM that spark-submit launches, the pyspark
daemon and its Python workers) and keeps the largest total seen.
``disk_bytes`` is a ``du``-style sum of allocated blocks under a tree.
Both use only the standard library.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed
            continue
        # the command name may hold spaces and parentheses: the ppid is
        # the second field after the LAST closing parenthesis
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Total RSS of ``root`` and all its descendants."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:  # exited since the listing
            continue
    return total


class RssSampler:
    """Background thread sampling ``tree_rss_bytes(os.getpid())``."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def disk_bytes(path: str) -> int:
    """Allocated bytes under ``path`` (``du`` semantics: blocks, files
    counted once per inode)."""
    seen, total = set(), 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                st = os.lstat(os.path.join(dirpath, name))
            except OSError:
                continue
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_blocks * 512
    return total
