"""Host-side measurements taken from outside the program.

* CPU seconds of this process tree (the driver Python process, the JVM
  it launches and the JVM's Python workers) and the proportional set
  size (PSS) of the JVM and its workers, read from ``/proc``.
* Co-tenancy annotations: hypervisor steal fraction and ``load1``
  around a run, plus the serial md5-chain anchor and its parallel twin
  (one chain per core) that ``bench.py`` records, so runs on different
  or contended hosts can be told apart.  These are recorded, never
  gated.
"""

from __future__ import annotations

import ctypes
import hashlib
import multiprocessing as mp
import os
import signal
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat_fields(int(name))):
            kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU of the live tree plus what its reaped children
    used (``cutime``/``cstime``), so a worker that exits between two
    samples is still counted once."""
    total = 0
    for pid in tree_pids():
        if st := _stat_fields(pid):
            total += sum(int(v) for v in st[11:15])
    return total / _CLK_TCK


def engine_pss_mb() -> float:
    """Summed PSS of this process's descendants: the JVM and its Python
    workers.  PSS splits a page shared by N processes (the forked
    workers' copy-on-write pages) into N shares, so the sum counts each
    page once.  This process is left out; it also holds the benchmark's
    own DuckDB checks."""
    kib = 0
    for pid in tree_pids()[1:]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kib += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return kib / 1024


class RssSampler:
    """Peak engine PSS, sampled on a thread while
    a window is open (between :meth:`open` and :meth:`close`); each
    window starts a new peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.is_set():
                self._sample()
            self._stop.wait(self.interval_s)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, engine_pss_mb())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def open(self) -> None:
        self.peak_mb = 0.0
        self._sample()
        self._on.set()

    def close(self) -> None:
        self._on.clear()
        self._sample()


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its whole tree: a process whose
    parent exits (the JVM's Python worker daemon and its forked workers,
    once the JVM is gone) becomes this process's child instead of
    init's, so :func:`end_children` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_children(timeout_s: float = 60.0) -> int:
    """Reap every descendant; those still running after ``timeout_s``
    are killed.  Returns how many had to be killed."""
    deadline = time.monotonic() + timeout_s
    killed: set[int] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:  # no child left, so no descendant
            return len(killed)
        if time.monotonic() > deadline:
            for pid in tree_pids()[1:]:
                try:
                    os.kill(pid, signal.SIGKILL)
                    killed.add(pid)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _proc_stat() -> tuple[int, int]:
    """(total, steal) jiffies of the whole host."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def calib_chain(_i: int = 0) -> int:
    """The fixed md5-chain work unit of ``bench.py``'s anchors."""
    blob = b"x" * 4096
    for _ in range(20000):
        blob = hashlib.md5(blob).digest() * 256
    return len(blob)


def anchors() -> dict:
    """Serial anchor, then one chain per core in forked processes, as
    ``bench.py`` does.  Call it before any thread starts.  A fork pool
    also starts no ``multiprocessing`` resource tracker, a helper that
    would outlive the run."""
    t0 = time.perf_counter()
    calib_chain()
    serial = time.perf_counter() - t0
    n = nproc()
    t0 = time.perf_counter()
    with mp.get_context("fork").Pool(n) as pool:
        pool.map(calib_chain, range(n))
        pool.close()
        pool.join()
    par = time.perf_counter() - t0
    return {
        "cpu_calib_s": round(serial, 4),
        "cpu_calib_par_s": round(par, 4),
        "cpu_calib_par_procs": n,
    }


class HostWatch:
    """Steal fraction and load1 from the start to the end of a run."""

    # Above these the run is flagged as contended.  load1 right after a
    # previous benchmark run still carries that run's load, hence the
    # margin over one runnable task per core.
    MAX_STEAL = 0.01
    MAX_LOAD_PER_CPU = 1.5

    def __init__(self):
        self.load1_start = os.getloadavg()[0]
        self.jiffies0, self.steal0 = _proc_stat()

    def finish(self) -> dict:
        j1, s1 = _proc_stat()
        steal = (s1 - self.steal0) / max(j1 - self.jiffies0, 1)
        ncpu = nproc()
        return {
            "steal_frac": round(steal, 5),
            "load1_start": round(self.load1_start, 2),
            "load1_end": round(os.getloadavg()[0], 2),
            "nproc": ncpu,
            "contended": steal > self.MAX_STEAL
            or self.load1_start > self.MAX_LOAD_PER_CPU * ncpu,
        }
