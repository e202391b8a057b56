"""Host-side helpers: process age, the environment stamp, the process
tree's resident memory, and stopping every process a run started."""

from __future__ import annotations

import hashlib
import os
import platform
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (kernel clock, 1/CLK_TCK)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler:
    """Peak of the summed RSS of this process and its descendants
    (driver Python, the JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.1, rescan_s: float = 1.0) -> None:
        self.peak = 0
        self._interval = interval_s
        self._rescan = rescan_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me, pids, scanned = os.getpid(), [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - scanned >= self._rescan:
                pids, scanned = [me, *descendants(me)], now
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def stop_descendants(timeout_s: float = 20.0) -> None:
    """Terminate whatever this process started and is still running,
    then wait for it; kill what outlives ``timeout_s``."""
    pids = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
            if not pids:
                break
            time.sleep(0.1)
        if not pids:
            break
    for p in descendants(os.getpid()):
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def source_digest(root: str) -> str:
    """Content hash of the program's Python sources: stands in for the
    git commit in a checkout that carries no git metadata."""
    h = hashlib.sha256()
    files = ["__spark_entry__.py"]
    for base, dirs, names in os.walk(os.path.join(root, "catme_etl_spark")):
        dirs.sort()
        files += [
            os.path.relpath(os.path.join(base, n), root)
            for n in sorted(names)
            if n.endswith(".py")
        ]
    for rel in files:
        path = os.path.join(root, rel)
        if os.path.exists(path):
            h.update(rel.encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def env_stamp(root: str, cpus: str) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": cpus,
        "spark": pyspark.__version__,
        "java": None,  # filled from the JVM once the session is up
        "python": platform.python_version(),
        "commit": git_commit(root),
        "source": source_digest(root),
    }
