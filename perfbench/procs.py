"""Process-tree and file-system measurements read from /proc.

The benchmark's process tree is this Python process plus every descendant:
the JVM that PySpark launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                # pid (comm) state ppid ...; comm may contain spaces
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        kids.setdefault(int(rest[1]), []).append(int(stat.split("/")[2]))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline") as f:
            return f.read()
    except OSError:
        return ""


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def engine_pss_mb(jvm_pid: int) -> float:
    """Proportional set size of this process, the JVM and the PySpark daemon
    and workers under it. Pss counts a page shared by forked workers once,
    and leaving out the JVM's other children skips the short-lived children
    it spawns, which share its address space until they exec and would
    count the JVM twice."""
    workers = [p for p in tree_pids(jvm_pid)[1:] if "pyspark" in _cmdline(p)]
    return sum(_pss_kb(p) for p in [os.getpid(), jvm_pid, *workers]) / 1024.0


def tree_io() -> dict[int, tuple[int, int]]:
    """pid -> (storage read bytes, storage write bytes) for the tree."""
    out = {}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/io") as f:
                fields = dict(line.split(": ") for line in f.read().splitlines())
            out[pid] = (int(fields["read_bytes"]), int(fields["write_bytes"]))
        except (OSError, KeyError, ValueError):
            continue
    return out


def io_delta(before: dict[int, tuple[int, int]], after: dict[int, tuple[int, int]]) -> tuple[int, int]:
    """Bytes read and written between two `tree_io` snapshots; a process
    that started in between counts from zero."""
    read = write = 0
    for pid, (r, w) in after.items():
        r0, w0 = before.get(pid, (0, 0))
        read += max(r - r0, 0)
        write += max(w - w0, 0)
    return read, write


def meminfo_mb(key: str = "MemTotal:") -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"{key} missing from /proc/meminfo")


class Sampler:
    """Samples `probe()` every `interval` seconds on a daemon thread and keeps
    the peak. `stop()` joins the thread."""

    def __init__(self, probe, interval: float):
        self.probe = probe
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            try:
                self.peak = max(self.peak, float(self.probe()))
            except Exception:  # noqa: BLE001 - a failed sample is skipped; the run goes on
                pass
            if self._stop.wait(self.interval):
                return

    def start(self) -> Sampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


def fixture_dirs(pid: int) -> list[str]:
    """The engine's per-process fixture directories (hard-coded under /tmp
    and suffixed with the id of the process that builds the query)."""
    return glob.glob(f"/tmp/crz_*_{pid}")


def tree_bytes(paths: list[str]) -> int:
    total = 0
    for root in paths:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                try:
                    total += os.lstat(os.path.join(dirpath, name)).st_size
                except OSError:
                    pass
    return total


def remove(paths: list[str]) -> None:
    for path in paths:
        shutil.rmtree(path, ignore_errors=True)
