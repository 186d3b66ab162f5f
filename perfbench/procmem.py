"""Peak memory of this process and all its descendants (the Spark JVM
and its Python workers), sampled from /proc.  Each process counts its
proportional set size, so pages the forked Python workers share with
their daemon are counted once, not once per worker."""

from __future__ import annotations

import os
import threading

def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces; ppid is 2 fields after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            continue  # exited, or a kernel thread without a rollup
    return total


class PeakMemory:
    """Background sampler; ``peak_bytes`` is the largest tree total seen."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(root))
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
