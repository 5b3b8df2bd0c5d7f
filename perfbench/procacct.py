"""Process-tree CPU and host steal accounting from /proc, stdlib only.

The engine runs as three kinds of process: the Python driver (this
process), the JVM it launches, and the Python workers the JVM forks.
``ProcAccountant`` samples the whole descendant tree of this process on
a background thread and splits user+system CPU into those three
classes. Each process keeps its last-seen CPU after it exits, so a
worker that ends mid-pass never makes a class total go down; the CPU a
process burns after its last sample is lost, which is at most one
sampling interval per exiting process.

``steal_s()`` reads the host's cumulative hypervisor steal from
``/proc/stat``; the difference over a pass is the time the box's CPUs
were taken away during it.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
CLASSES = ("driver", "jvm", "workers", "jit")
# HotSpot's JIT compiler threads, by their (15-char) thread names
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(pid: int) -> tuple[str, int, int, int] | None:
    """(comm, ppid, utime+stime ticks, starttime) or None if gone."""
    return _stat_path(f"/proc/{pid}/stat")


def _stat_path(path: str) -> tuple[str, int, int, int] | None:
    try:
        with open(path, "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return None
    # comm may hold spaces or parentheses: split after the LAST ')'
    lpar, rpar = raw.index("("), raw.rindex(")")
    rest = raw[rpar + 2 :].split()
    # rest[0] is field 3 (state); utime/stime are fields 14/15,
    # starttime is field 22
    return raw[lpar + 1 : rpar], int(rest[1]), int(rest[11]) + int(rest[12]), int(rest[19])


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def steal_s() -> float:
    """Cumulative steal time of all CPUs of the host, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK if len(fields) > 8 else 0.0


class ProcAccountant:
    """CPU seconds of this process's tree, split by process class.

    Classes: ``driver`` is the root process, ``jvm`` is every ``java``
    descendant, ``workers`` is every other descendant (the PySpark
    daemon and its forked workers). ``jit`` is the part of ``jvm`` spent
    in the JVM's JIT compiler threads (warm-up work, which drifts from
    pass to pass). Call ``start()`` to sample every ``interval``
    seconds, ``totals()`` to read, ``stop()`` to end."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        # (pid, starttime) -> [class, last-seen ticks]; the starttime in
        # the key keeps a recycled pid from inheriting an old total
        self._seen: dict[tuple, list] = {}
        self._thread_names: dict[tuple[int, str], str] = {}  # (pid, tid) -> name
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> dict[int, tuple[str, int, int, int]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        kids: dict[int, list[int]] = {}
        for pid, st in stats.items():
            kids.setdefault(st[1], []).append(pid)
        tree, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree[pid] = stats[pid]
                todo.extend(kids.get(pid, ()))
        return tree

    def descendants(self) -> list[int]:
        """Live processes under the root, the root excluded."""
        return [pid for pid in self._tree() if pid != self.root]

    def sample(self) -> None:
        tree = self._tree()
        with self._lock:
            for pid, (comm, _ppid, ticks, start) in tree.items():
                if pid == self.root:
                    cls = "driver"
                elif comm == "java":
                    cls = "jvm"
                else:
                    cls = "workers"
                rec = self._seen.setdefault((pid, start), [cls, 0])
                rec[0] = cls  # a fork becomes java only after exec
                rec[1] = max(rec[1], ticks)
                if cls == "jvm":
                    self._sample_jit(pid)

    def _sample_jit(self, pid: int) -> None:
        """Last-seen CPU of the JVM's compiler threads; a thread's name
        is read once, so a sample costs a listdir plus ~3 reads."""
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            name = self._thread_names.get((pid, tid))
            if name is None:
                name = (_read(f"/proc/{pid}/task/{tid}/comm") or "").strip()
                self._thread_names[(pid, tid)] = name
            if name.startswith(JIT_THREADS):
                st = _stat_path(f"/proc/{pid}/task/{tid}/stat")
                if st is not None:
                    rec = self._seen.setdefault((pid, int(tid), st[3]), ["jit", 0])
                    rec[1] = max(rec[1], st[2])

    def totals(self) -> dict[str, float]:
        """Seconds of CPU per class since the first sample, taken now."""
        self.sample()
        out = dict.fromkeys(CLASSES, 0.0)
        with self._lock:
            for cls, ticks in self._seen.values():
                out[cls] += ticks / CLK_TCK
        return out

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> ProcAccountant:
        self.sample()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
