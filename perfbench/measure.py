"""Small measurement helpers: the tail percentile, memory, the process
tree, stamps."""

from __future__ import annotations

import hashlib
import json
import os
import signal
import subprocess
import threading
import time


def tail(xs) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest nearest-rank percentile that
    still has at least 10 samples beyond it; (None, None) below 11
    samples."""
    s = sorted(xs)
    k = len(s) - 11
    if k < 0:
        return None, None
    return round(100.0 * (k + 1) / len(s), 2), s[k]


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (stat := _stat(int(name))) is not None:
            kids.setdefault(int(stat[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of every descendant of ``root``; the start time
    tells a process from a later one that reuses its pid."""
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        if (stat := _stat(pid)) is not None:
            out.append((pid, stat[19]))
    return out


def _alive(pid: int, start: str) -> bool:
    stat = _stat(pid)
    if stat is None or stat[19] != start:
        return False
    if stat[0] in "ZX":
        try:  # reap it if it is our own child
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def wait_gone(procs: list[tuple[int, str]], timeout_s: float) -> None:
    """Wait until every process of ``descendants`` has ended; kill the
    ones still running after ``timeout_s`` and wait for those too."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while procs := [p for p in procs if _alive(*p)]:
        if not killed and time.monotonic() >= deadline:
            for pid, _ in procs:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
        time.sleep(0.05)


def tree_rss_mb(root: int) -> float:
    """Summed resident memory of ``root`` and all its descendants (the
    driver, the JVM and the Python workers)."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total / 1e6


class RssSampler:
    """Background sampler of the process tree's peak resident memory."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def source_revision(root: str) -> str:
    """git HEAD when the tree is a repository, else a hash of the
    program's sources (benchmark checkouts carry no .git)."""
    try:
        return subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True,
            check=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    files = [os.path.join(root, "__spark_entry__.py")]
    amp_dir = os.path.join(root, "amp")
    files += sorted(os.path.join(amp_dir, f) for f in os.listdir(amp_dir) if f.endswith(".py"))
    for path in files:
        with open(path, "rb") as fh:
            h.update(fh.read())
    return "src:" + h.hexdigest()[:16]


# stamp keys that must agree before two results may be compared (the
# revision is what a comparison varies)
STAMP_KEYS = ("workload", "seed", "nproc", "pyspark", "java", "fixture")


def comparable(a: dict, b: dict) -> list[str]:
    """Workload, input, host and toolchain stamp keys on which two
    results differ."""
    return [k for k in STAMP_KEYS if a.get(k) != b.get(k)]


def load_result(path: str) -> tuple[dict, dict]:
    """(details, result) from a saved benchmark stdout."""
    lines = [ln for ln in open(path).read().splitlines() if ln.startswith("{")]
    return json.loads(lines[-2]), json.loads(lines[-1])
