"""CPU time and resident memory of this process and all its descendants,
read from ``/proc`` (Linux only).

The tree is the benchmark's own Python process, the JVM that pyspark launched
under it, the pyspark daemon and its Python workers.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int | None = None) -> list[int]:
    """pids of ``root`` (default: this process) and its descendants."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _stat(path: str) -> list[str] | None:
    """Fields of a ``/proc`` stat file after the command name (field 3 on)."""
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2 :].split()


def _ticks(f: list[str]) -> int:
    return int(f[11]) + int(f[12])  # utime + stime (fields 14 and 15)


def _jit_threads(pid: int) -> dict[tuple[int, int], int]:
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(JIT_THREADS):
                    continue
        except OSError:
            continue
        f = _stat(f"/proc/{pid}/task/{tid}/stat")
        if f is not None:
            out[(pid, int(tid))] = _ticks(f)
    return out


def cpu_snapshot() -> dict:
    """CPU ticks used so far by each process of the tree (all its threads,
    the exited ones too), keyed by ``(pid, start time)``, and by the JVM's
    JIT compiler threads. Compiling is the JVM warming up, and how much of
    it lands in a given query varies from run to run, so it is taken out;
    the runner keeps the compiler threads alive for the whole run
    (``-XX:-UseDynamicNumberOfCompilerThreads``) so that their time can be
    read."""
    procs, jit = {}, {}
    for pid in tree():
        f = _stat(f"/proc/{pid}/stat")
        if f is None:
            continue
        procs[(pid, int(f[19]))] = _ticks(f)  # field 22: start time
        jit.update(_jit_threads(pid))
    return {"procs": procs, "jit": jit}


def cpu_seconds(before: dict, after: dict) -> float:
    """CPU seconds the tree used between two snapshots, without the JIT
    compiler threads. A process born in between counts in full. A process
    that ended in between is not counted: its time goes to its parent's
    ``cutime``, which would charge a Python worker's whole life to the
    query that ran when it ended."""

    def delta(now: dict, then: dict) -> int:
        return sum(t - then.get(k, 0) for k, t in now.items())

    ticks = delta(after["procs"], before["procs"]) - delta(after["jit"], before["jit"])
    return ticks / _TICK


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's resident high-water mark, in MiB."""
    return sum(_status_kb(p, "VmHWM:") for p in pids) / 1024.0

