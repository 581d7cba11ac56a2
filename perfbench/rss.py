"""Peak resident memory of a process tree, sampled from a separate process.

    python3 perfbench/rss.py ROOT_PID

samples the resident bytes of ``ROOT_PID`` and all its descendants (the
JVM and the Python workers) every :data:`INTERVAL` seconds, itself left
out, until its standard input closes; then it prints the peak in bytes.
Sampling from its own process keeps the scan off the measured driver's
interpreter lock.  :class:`RssSampler` starts and stops it.
"""

from __future__ import annotations

import os
import select
import subprocess
import sys

INTERVAL = 0.2


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_bytes(root: int, skip: int = -1) -> int:
    """Resident bytes of ``root`` and all its descendants but ``skip``.

    A child the JVM is spawning (a helper or shell command, before its
    exec) still reports the whole JVM as resident; such a JVM-under-JVM
    process is skipped, not counted twice."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [(root, "")]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        if pid == skip or (exe == parent_exe and exe.endswith("/java")):
            continue
        todo.extend((k, exe) for k in kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Runs this file as a child process for the life of the object."""

    def __init__(self):
        self.peak = 0
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid())],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )

    def close(self) -> None:
        out, _ = self._proc.communicate(timeout=30)
        if self._proc.returncode:
            raise RuntimeError(f"rss sampler exited with {self._proc.returncode}")
        self.peak = int(out)


def main(root: int) -> None:
    me, peak = os.getpid(), 0
    while True:
        peak = max(peak, tree_rss_bytes(root, skip=me))
        if select.select([sys.stdin], [], [], INTERVAL)[0]:
            break  # stdin closed: the sampled run is done
    print(max(peak, tree_rss_bytes(root, skip=me)))


if __name__ == "__main__":
    main(int(sys.argv[1]))
