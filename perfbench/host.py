"""Run scratch, host headroom and process-tree memory for one benchmark run.

Every run writes under ``<checkout>/.perfbench/run-<pid>/``: fixtures, the
target table, checkpoints, ``spark.local.dir`` and the JVM temp dir. The
directory is removed when the run exits (normally or on SIGTERM). Stale
directories are pruned only when their owner pid is no longer alive, so two
concurrent runs never delete each other's scratch.
"""

from __future__ import annotations

import ctypes
import os
import re
import shutil
import signal
import threading
import time

_RUN_RE = re.compile(r"^run-(\d+)$")


def pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def prune_dead(root: str) -> list[str]:
    """Remove ``run-<pid>`` directories whose pid is gone; never a live one."""
    removed = []
    if not os.path.isdir(root):
        return removed
    for name in os.listdir(root):
        m = _RUN_RE.match(name)
        if m and int(m.group(1)) != os.getpid() and not pid_alive(int(m.group(1))):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
            removed.append(name)
    return removed


class Scratch:
    """The pid-stamped run directory; ``close()`` removes it."""

    def __init__(self, root: str):
        self.root = root
        prune_dead(root)
        self.path = os.path.join(root, f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        self._prev = {}

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def install_sigterm(self) -> None:
        """Turn SIGTERM into SystemExit so ``finally`` blocks (Spark stop,
        child reaping, this directory's removal) run."""
        def on_term(signum, frame):
            raise SystemExit(128 + signum)

        self._prev[signal.SIGTERM] = signal.signal(signal.SIGTERM, on_term)

    def close(self) -> None:
        for sig, h in self._prev.items():
            signal.signal(sig, h)
        shutil.rmtree(self.path, ignore_errors=True)


def mem_available_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def disk_free_mb(path: str) -> float:
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize / 2 ** 20


def check_headroom(path: str, need_ram_mb: float, need_disk_mb: float) -> str | None:
    """None when the host can hold the run, else the reason to refuse it
    (a swapping or full host would be timed, not the engine)."""
    ram, disk = mem_available_mb(), disk_free_mb(path)
    if ram < need_ram_mb:
        return f"MemAvailable {ram:.0f} MB < {need_ram_mb:.0f} MB needed"
    if disk < need_disk_mb:
        return f"free disk {disk:.0f} MB < {need_disk_mb:.0f} MB needed at {path}"
    if os.path.isdir("/dev/shm"):
        shm = disk_free_mb("/dev/shm")
        if shm < 256:
            return f"/dev/shm has {shm:.0f} MB free (< 256 MB for JVM/Arrow segments)"
    return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def become_subreaper() -> None:
    """Adopt orphaned descendants (the Python workers the JVM forks outlive
    it by a moment) so that ``stop_descendants`` can reap every one."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 10.0) -> None:
    """Return only when no process under this one is left, zombies reaped:
    SIGTERM to each that is still there, SIGKILL after ``grace`` seconds."""
    deadline = time.monotonic() + grace
    sent: dict[int, int] = {}
    while True:
        _reap()
        live = descendants(os.getpid())
        if not live:
            return
        now = time.monotonic()
        if now > deadline + 20:
            raise RuntimeError(f"processes {live} outlived SIGKILL")
        sig = signal.SIGKILL if now > deadline else signal.SIGTERM
        for pid in live:
            if sent.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                sent[pid] = sig
        time.sleep(0.05)


def tree_rss_mb(root: int, exclude: set[int] = frozenset()) -> float:
    """Resident memory of the process tree under ``root``, summed as PSS so
    that pages a freshly forked child shares with the JVM count once."""
    kids = _children()
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) / 1024.0
                        break
        except OSError:
            pass
        todo.extend(kids.get(pid, ()))
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads (``C1/C2 CompilerThread``)."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        if "CompilerThre" in s[s.index("(") + 1:s.rindex(")")]:
            ticks += sum(int(x) for x in s.rsplit(")", 1)[1].split()[11:13])
    return ticks


def tree_cpu_s(root: int, exclude: set[int] = frozenset()) -> float:
    """CPU seconds (user + system) used so far by the process tree under
    ``root``, minus ``exclude`` subtrees and minus JIT compilation. A
    descendant's count includes its reaped children, so short-lived Python
    workers are not lost. Steal time, when the hypervisor runs another guest
    on our vCPU, is not in it. JIT compilation is warm-up, not work: it was
    most of the JVM's CPU for the first dozen replays and came and went in
    bursts. Subtracting it needs compiler threads that never exit
    (``-XX:-UseDynamicNumberOfCompilerThreads``, see engine.start_session)."""
    kids = _children()
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime; for descendants also cutime, cstime (fields 14-17)
        used = fields[11:15] if pid != root else fields[11:13]
        total += (sum(int(x) for x in used) - _jit_ticks(pid)) / _TICK
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Peak RSS of this process tree (minus ``exclude`` subtrees), sampled
    every ``period`` seconds on a daemon thread between start() and stop()."""

    def __init__(self, exclude: set[int] = frozenset(), period: float = 0.1):
        self.exclude, self.period = set(exclude), period
        self.peak = 0.0
        self._stop = threading.Event()
        self._t: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid(), self.exclude))
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._t is not None:
            self._t.join(timeout=5)
        self.peak = max(self.peak, tree_rss_mb(os.getpid(), self.exclude))
        return self.peak


def dir_mb(path: str) -> float:
    total = 0
    for dp, _dn, fn in os.walk(path):
        for f in fn:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total / 2 ** 20

