"""Measurement helpers: process-tree CPU and memory, and call spans.

``ProcTree`` reads ``/proc`` for the measuring process and every
descendant (the JVM spark-submit starts, the Python workers the JVM
forks).  CPU is user plus system time, counting each process's
reaped children, so time of workers that already exited is kept.
Peak memory is the sum of each process's own high-water mark
(``VmHWM``), read by a sampling thread so exited workers still count.

``Tracer`` wraps the public functions of the program's modules and
records one span per call in memory; ``self_times`` subtracts child
spans.  It is installed only for traced runs.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import threading
import time
from collections import defaultdict

TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14-17
    ticks = sum(int(x) for x in fields[11:15])
    return comm, int(fields[1]), ticks / TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / TICK


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs, since boot (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICK


class ProcTree:
    def __init__(self, root: int | None = None, period: float = 1.0):
        self.root = root or os.getpid()
        self.hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(period,), daemon=True)
        self._thread.start()

    def members(self) -> dict[int, tuple[str, int, float]]:
        children = defaultdict(list)
        stats = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children[st[1]].append(int(name))
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
                todo.extend(children.get(pid, ()))
        return out

    def _sample(self) -> None:
        for pid in self.members():
            self.hwm[pid] = max(self.hwm.get(pid, 0), _hwm_kb(pid))

    def _run(self, period: float) -> None:
        while not self._stop.wait(period):
            self._sample()

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far, split into jvm / driver_py / workers_py."""
        mem = self.members()
        out = {"jvm": 0.0, "driver_py": 0.0, "workers_py": 0.0}
        for pid, (comm, _ppid, secs) in mem.items():
            if pid == self.root:
                out["driver_py"] += secs
            elif comm.startswith("python"):
                out["workers_py"] += secs
            else:
                out["jvm"] += secs
        return out

    def peak_rss_mb(self) -> float:
        self._sample()
        return sum(self.hwm.values()) / 1024.0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


class Tracer:
    """In-memory call spans over the program's public functions.

    A span is ``(id, parent id or -1, name, start, end)``; the Spark driver
    is single-threaded, so the open spans form a stack."""

    def __init__(self):
        self.spans: list[tuple[int, int, str, float, float]] = []
        self._open: list[int] = []
        self._next = 0
        self.overhead = 0.0

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.t0 = time.perf_counter()
                self.id = tracer._next
                tracer._next += 1
                self.parent = tracer._open[-1] if tracer._open else -1
                tracer._open.append(self.id)
                tracer.overhead += time.perf_counter() - self.t0

            def __exit__(self, *exc):
                t1 = time.perf_counter()
                tracer._open.pop()
                tracer.spans.append((self.id, self.parent, name, self.t0, t1))
                tracer.overhead += time.perf_counter() - t1

        return _Span()

    def _wrap(self, label: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(label):
                return fn(*args, **kwargs)

        wrapper.__wrapped_by_bench__ = True
        return wrapper

    def install(self, prefixes: dict[str, str]) -> None:
        """Wrap every public function defined in each module named in
        ``prefixes`` (module -> layer label), and rebind every
        reference to it in the program's loaded modules."""
        originals = {}
        for modname, label in prefixes.items():
            mod = importlib.import_module(modname)
            for name, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and not name.startswith("_")
                    and fn.__module__ == modname
                    and not getattr(fn, "__wrapped_by_bench__", False)
                ):
                    originals[id(fn)] = (fn, self._wrap(f"{label}.{name}", fn))
        for modname, mod in list(sys.modules.items()):
            if not (modname == "v6spark" or modname.startswith("v6spark.")):
                continue
            for name, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, name, hit[1])

    def mark(self) -> int:
        return len(self.spans)

    def totals(self, since: int = 0, until: int | None = None) -> dict[str, dict]:
        """name -> {"s": total, "self_s": total minus child spans, "n"}
        over the spans closed between two marks."""
        spans = self.spans[since:until]
        child = defaultdict(float)
        for _sid, parent, _name, t0, t1 in spans:
            child[parent] += t1 - t0
        out: dict[str, dict] = defaultdict(lambda: {"s": 0.0, "self_s": 0.0, "n": 0})
        for sid, _parent, name, t0, t1 in spans:
            rec = out[name]
            rec["s"] += t1 - t0
            rec["self_s"] += t1 - t0 - child[sid]
            rec["n"] += 1
        return dict(out)
