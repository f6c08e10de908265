"""Start and fully stop the Spark JVM, and read process memory and CPU.

A session started here owns its JVM: :func:`stop_jvm` stops the
SparkContext, closes the py4j gateway, closes the JVM's stdin (the JVM
exits on that EOF) and waits for the JVM and every process it started,
such as the Python worker daemon, to end.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as f:
            return dict(line.split(":", 1) for line in f if ":" in line)
    except OSError:
        return {}


def _alive(pid: int) -> bool:
    """Whether the process still runs; an unreaped zombie has ended."""
    state = _status(pid).get("State", "")
    return bool(state) and not state.strip().startswith("Z")


def _cpu_ticks(stat_path: str, children: bool) -> int:
    """utime + stime from a ``/proc`` stat file (with ``children``, plus
    cutime + cstime of the reaped children), in clock ticks; 0 once the
    process or thread ended."""
    try:
        with open(stat_path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(v) for v in fields[11:15 if children else 13])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, the JVM and every process
    the JVM started (the Python worker daemon and its workers). Time the
    host stole from the guest is not in it."""
    own = os.times()
    pid = jvm_pid()
    ticks = 0
    if pid is not None:
        ticks = sum(_cpu_ticks(f"/proc/{p}/stat", True)
                    for p in [pid] + descendants(pid))
    return own.user + own.system + ticks / _TICK


def jit_threads_cpu_s() -> dict[str, float]:
    """CPU seconds used so far by each live JIT compiler thread of the
    JVM, by thread id. The JVM starts and ends compiler threads as the
    compile queue grows and shrinks, so compare two readings thread by
    thread."""
    pid = jvm_pid()
    if pid is None:
        return {}
    task_dir = f"/proc/{pid}/task"
    out = {}
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/comm") as f:
                compiler = "CompilerThre" in f.read()
        except OSError:
            continue
        if compiler:
            out[tid] = _cpu_ticks(f"{task_dir}/{tid}/stat", False) / _TICK
    return out


def jit_cpu_delta_s(before: dict[str, float],
                    after: dict[str, float]) -> float:
    """JIT compiler CPU seconds between two readings of
    :func:`jit_threads_cpu_s`; a thread that ended in between is left
    out."""
    return sum(v - before.get(tid, 0.0) for tid, v in after.items())


def peak_rss_mb(pid: int) -> float:
    """The process's peak resident set (VmHWM), in MiB; 0 once it ended."""
    hwm = _status(pid).get("VmHWM")
    return int(hwm.split()[0]) / 1024 if hwm else 0.0


def jvm_pid() -> int | None:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def python_worker_peak_rss_mb() -> float:
    """Largest peak RSS among the JVM's Python worker processes alive now."""
    pid = jvm_pid()
    if pid is None:
        return 0.0
    peaks = [peak_rss_mb(p) for p in descendants(pid)
             if "python" in _status(p).get("Name", "")]
    return max(peaks, default=0.0)


def stop_jvm(timeout_s: float = 60.0) -> None:
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    started = descendants(proc.pid) if proc is not None else []
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in started):
        if time.monotonic() > deadline:
            raise TimeoutError(f"JVM children {started} still running")
        time.sleep(0.05)
