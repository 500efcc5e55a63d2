"""Host context for every run: an ALU control sized to the host, the resident
memory of a process tree sampled from /proc, and the bookkeeping that stops
every process a run starts."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import threading
import time

PR_SET_PDEATHSIG = 1  # from <linux/prctl.h>
PR_SET_CHILD_SUBREAPER = 36


def _lcg_loop(seconds: float) -> float:
    t0 = time.time()
    x, n = 1, 0
    while time.time() - t0 < seconds:
        for _ in range(100_000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        n += 100_000
    return n / (time.time() - t0)


def alu_control(procs: int, seconds: float = 0.5) -> float:
    """Integer-LCG busy loop in ``procs`` processes; total M ops/s.  The same
    control as tools/hw_controls.py, sized to this host instead of 32.  The
    workers are plain subprocesses (this file run as a script), which leave
    nothing running behind them, unlike a multiprocessing queue, whose
    resource tracker lives as long as this process."""
    ps = [subprocess.Popen([sys.executable, os.path.abspath(__file__), str(seconds)],
                           stdout=subprocess.PIPE, text=True) for _ in range(procs)]
    total = 0.0
    for p in ps:
        out, _ = p.communicate()
        if p.returncode != 0:
            raise RuntimeError(f"ALU control worker ended with {p.returncode}")
        total += float(out)
    return total / 1e6


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each shared page split
    among the processes sharing it (forked Python workers share most of
    theirs), so a tree's sum counts each page once."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    raise ValueError(f"no Pss line for {pid}")


def tree_rss_mb(root: int) -> float:
    """Resident memory (PSS) of ``root`` and all its descendants, in MB."""
    kids, todo, total = _children(), [root], 0
    while todo:
        pid = todo.pop()
        try:
            total += _pss_kb(pid)
        except (OSError, ValueError):
            continue
        todo.extend(kids.get(pid, []))
    return total / 1024


class RssSampler:
    """Peak of ``tree_rss_mb(pid)``, sampled every ``interval`` seconds."""

    def __init__(self, pid: int, interval: float = 0.5):
        self.pid, self.interval = pid, interval
        self.peak_mb = 0.0
        self._stop = threading.Event()

    def run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()


def become_subreaper() -> None:
    """Make this process the child subreaper of everything it starts: a
    descendant whose parent ends (Spark's Python worker daemon outlives the
    JVM that started it) is re-parented here, not to init, so
    ``stop_descendants`` can find it and wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def die_with_parent() -> None:
    """In a child, before it runs its program: SIGKILL it if the process
    that started it ends, even by SIGKILL."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_PDEATHSIG, signal.SIGKILL, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_PDEATHSIG)")


def _running_descendants() -> list[int]:
    kids, todo, found = _children(), [os.getpid()], []
    while todo:
        for pid in kids.get(todo.pop(), []):
            if _running(pid):
                found.append(pid)
            todo.append(pid)
    return found


def _reap_children() -> None:
    """Collect the exit status of every ended child (and re-parented orphan)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 10.0) -> None:
    """Wait up to ``grace`` seconds for every descendant of this process to
    end, SIGKILL those still running, and wait until all have ended."""
    deadline = time.time() + grace
    while True:
        _reap_children()
        left = _running_descendants()
        if not left:
            break
        if time.time() >= deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
    while True:  # no child left running: wait for the exit status of each
        try:
            os.wait()
        except ChildProcessError:
            return


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


if __name__ == "__main__":  # one ALU control worker: python3 hostctx.py SECONDS
    _lcg_loop(0.5)  # an idle vCPU reads up to 4x slow for its first moments
    print(_lcg_loop(float(sys.argv[1])))
