"""Host context for a benchmark run: cores, memory, and the process
tree the run started."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import threading
import time


class CoreRequestError(RuntimeError):
    """More cores were requested than the process may run on."""


def core_counts(requested: int | None) -> dict:
    """Cores requested, cores this process may run on
    (``sched_getaffinity``), ``nproc`` and ``os.cpu_count()``.

    ``taskset`` and ``sched_setaffinity`` accept a CPU list wider than
    the machine and silently grant fewer cores, so the count obtained
    is read back rather than trusted. Raises :class:`CoreRequestError`
    when the request exceeds what was obtained."""
    obtained = len(os.sched_getaffinity(0))
    nproc = None
    if shutil.which("nproc"):
        env = {k: v for k, v in os.environ.items()
               if k != "OMP_NUM_THREADS"}
        out = subprocess.run(["nproc"], capture_output=True, text=True,
                             env=env, check=False)
        if out.returncode == 0 and out.stdout.strip().isdigit():
            nproc = int(out.stdout.strip())
    counts = {"requested": obtained if requested is None else requested,
              "obtained": obtained, "nproc": nproc,
              "cpu_count": os.cpu_count()}
    if counts["requested"] > obtained:
        raise CoreRequestError(
            f"{counts['requested']} cores requested but this process "
            f"may run on {obtained} (sched_getaffinity); refusing to "
            "run rather than mislabel the result")
    if counts["requested"] < 1:
        raise CoreRequestError("at least one core must be requested")
    return counts


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its ")"
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants, the Spark JVM and its Python workers, counting
    children that have already ended and been waited for. Time the
    hypervisor gave to other guests (steal) is not counted."""
    tick = os.sysconf("SC_CLK_TCK")
    pid = os.getpid()
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime follow the state and ten fields
        f = stat[stat.rfind(")") + 2:].split()
        total += sum(int(x) for x in f[11:15])
    return total / tick


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the Spark JVM and its Python workers) every 0.25 s and keeps the
    peak."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pid = os.getpid()
        total = sum(_rss_bytes(p) for p in [pid] + descendants(pid))
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


def stop_tree(timeout: float = 20.0) -> list[int]:
    """Terminate every process still below this one and wait for each
    to end; returns the pids that had to be signalled."""
    pids = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            _reap()
            if not [p for p in pids if _alive(p)]:
                return pids
            time.sleep(0.05)
    return pids


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"
