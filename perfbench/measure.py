"""Measurement helpers: order statistics, span self time, status-store
deltas, a host-speed probe and a process-tree resource monitor.

Everything above ``ProcessTree`` is pure and unit-tested; ``ProcessTree``
reads ``/proc`` and ``getrusage`` (Linux).
"""

from __future__ import annotations

import ctypes
import os
import resource
import signal
import statistics
import threading
import time

# --- order statistics ---------------------------------------------------------


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; one value gives itself three times."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


# --- spans --------------------------------------------------------------------


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus its direct children's.

    ``spans`` are dicts with ``id``, ``parent`` (id or None), ``start``
    and ``end``, nested as one thread's context managers nest them, so
    children lie inside their parent and never overlap one another.
    Returns ``{id: self_seconds}``.
    """
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


# --- Spark status-store deltas ------------------------------------------------

STAGE_FIELDS = (
    "executorRunTime",     # ms
    "executorCpuTime",     # ns
    "inputBytes",
    "outputBytes",
    "shuffleWriteBytes",
    "diskBytesSpilled",
)


def stage_delta(before: dict, after: dict) -> dict[str, float]:
    """Counters of the stages that appeared between two status-store
    snapshots, in report units.

    A snapshot is ``{"stages": {(stage_id, attempt): {field: value}},
    "jobs": n}``; stages present in ``before`` are not counted again.
    """
    new = [v for k, v in after["stages"].items() if k not in before["stages"]]
    total = {f: sum(s[f] for s in new) for f in STAGE_FIELDS}
    mb = 1024 * 1024
    return {
        "task_s": total["executorRunTime"] / 1e3,
        "task_cpu_s": total["executorCpuTime"] / 1e9,
        "jobs": after["jobs"] - before["jobs"],
        "input_mb": total["inputBytes"] / mb,
        "shuffle_mb": total["shuffleWriteBytes"] / mb,
        "spill_mb": total["diskBytesSpilled"] / mb,
        "output_mb": total["outputBytes"] / mb,
    }


# --- host-speed probe -----------------------------------------------------------


def calib_loop(n: int = 2_000_000) -> float:
    """Seconds for a fixed pure-Python loop: a slow host shows here, a
    slow change does not."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


# --- process-tree monitor -----------------------------------------------------

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make orphaned descendants (the JVM, Python workers) re-parent to
    this process, so they can be waited for and their CPU is counted in
    ``RUSAGE_CHILDREN``."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _proc_table() -> dict[int, tuple[int, int]]:
    """{pid: (ppid, rss_pages)} for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        table[int(name)] = (int(fields[1]), int(fields[21]))
    return table


def _vm_hwm(pid: int) -> int | None:
    """Peak resident set of ``pid`` in bytes, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def descendants(root: int, table: dict[int, tuple[int, int]]) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _rss) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


class ProcessTree:
    """Peak resident memory and total CPU of everything a child process
    starts.

    Use around one ``subprocess.Popen``: ``start()`` before the launch,
    ``watch()`` after it, ``finish()`` once it has exited. The
    caller must have called :func:`become_subreaper` so that orphaned
    descendants come back here to be reaped; ``finish`` waits for them
    (killing any still alive after ``grace_s``) and returns
    ``{"cpu_s", "peak_rss_mb", "mean_rss_mb"}``. CPU is the
    ``RUSAGE_CHILDREN`` delta, which covers every reaped descendant.
    ``peak_rss_mb`` sums each descendant's own peak (``VmHWM``, last
    seen before it exited), which the kernel keeps between samples, so
    a short peak is not missed; ``mean_rss_mb`` is the time average of
    the summed RSS of the live tree. Both are sampled every
    ``interval_s``.
    """

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._hwm: dict[int, int] = {}
        self._samples: list[int] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._ru0 = None

    def start(self) -> None:
        self._ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)

    def watch(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        me = os.getpid()

        def loop():
            while not self._stop.is_set():
                table = _proc_table()
                tree = descendants(me, table)
                self._samples.append(sum(table[p][1] for p in tree) * page)
                for p in tree:
                    hwm = _vm_hwm(p)
                    if hwm is not None:
                        self._hwm[p] = hwm
                self._stop.wait(self.interval_s)

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def finish(self, grace_s: float) -> dict[str, float]:
        reap_descendants(grace_s)
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        ru = resource.getrusage(resource.RUSAGE_CHILDREN)
        cpu = (ru.ru_utime - self._ru0.ru_utime) + (ru.ru_stime - self._ru0.ru_stime)
        mb = 1024 * 1024
        mean = sum(self._samples) / len(self._samples) if self._samples else 0.0
        return {"cpu_s": cpu, "peak_rss_mb": sum(self._hwm.values()) / mb,
                "mean_rss_mb": mean / mb}


def reap_descendants(grace_s: float = 20.0) -> None:
    """Wait for every descendant of this process to exit; after
    ``grace_s`` kill whatever is left and wait for that too."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if not killed and time.monotonic() > deadline:
            for p in descendants(os.getpid(), _proc_table()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)
