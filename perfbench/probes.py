"""Measurement probes: the process tree from /proc, Spark's status
store, and in-memory trace spans.

Everything here observes the program from outside: it reads /proc and
the SparkContext's AppStatusStore (populated with the UI disabled) and
never patches package code.
"""

from __future__ import annotations

import os
import signal
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int, int, bytes]]:
    """pid -> (ppid, own cpu ticks, reaped children's cpu ticks, rss pages, comm)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                s = fh.read()
        except OSError:
            continue
        r = s.rfind(b")")
        f = s[r + 2:].split()
        # after "(comm)": state ppid ... utime(11) stime(12) cutime(13)
        # cstime(14) ... rss(21)
        out[int(d)] = (int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14]),
                       int(f[21]), s[s.find(b"(") + 1:r])
    return out


class ProcTree:
    """CPU seconds and summed RSS of this process and every descendant:
    the Python driver, the JVM and the Python workers (the pyspark
    daemon and its forks). A worker's CPU stays counted after it exits
    because its parent's cutime/cstime absorbs it when reaped.

    A sampler thread records the peak summed RSS of the whole tree and,
    separately, of the Python workers inside a resettable window. It runs
    in the driver process, so its own CPU time is taken out of the
    driver's."""

    def __init__(self, interval: float = 0.25):
        self.root = os.getpid()
        self.peak_rss = 0
        self.window_worker_peak = 0
        self.sampler_cpu_s = 0.0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _tree(self) -> list[tuple[int, str, int, int, int]]:
        """(pid, kind, own cpu ticks, reaped children's cpu ticks, rss pages)
        of this process and its descendants."""
        procs = _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, rec in procs.items():
            kids.setdefault(rec[0], []).append(pid)
        stack, out = [self.root], []
        while stack:
            p = stack.pop()
            if p in procs:
                _, own, reaped, rss, comm = procs[p]
                kind = "driver" if p == self.root else ("jvm" if comm == b"java" else "pyworker")
                out.append((p, kind, own, reaped, rss))
                stack.extend(kids.get(p, ()))
        return out

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            tree = self._tree()
            total = sum(t[4] for t in tree) * _PAGE
            workers = sum(t[4] for t in tree if t[1] == "pyworker") * _PAGE
            self.peak_rss = max(self.peak_rss, total)
            self.window_worker_peak = max(self.window_worker_peak, workers)
            self.sampler_cpu_s = time.thread_time()

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per kind (driver, jvm, pyworker) + total,
        without the sampler thread, whose own CPU is under "sampler".
        Reaped children count for the kind they were: the JVM's children
        are Python workers, and the driver's is the JVM launcher."""
        child_kind = {"driver": "jvm", "jvm": "pyworker", "pyworker": "pyworker"}
        acc = {"driver": 0, "jvm": 0, "pyworker": 0}
        for _, kind, own, reaped, _ in self._tree():
            acc[kind] += own
            acc[child_kind[kind]] += reaped
        out = {k: v / _TICK for k, v in acc.items()}
        out["driver"] -= self.sampler_cpu_s
        out["total"] = sum(out.values())
        out["sampler"] = self.sampler_cpu_s
        return out

    def close(self) -> None:
        self._stop.set()
        self._thread.join()

    def reap(self, timeout: float = 30.0) -> None:
        """Wait for every descendant to exit; kill what outlives ``timeout``."""
        deadline = time.monotonic() + timeout
        while True:
            left = [t[0] for t in self._tree() if t[0] != self.root]
            if not left:
                return
            if time.monotonic() > deadline:
                for p in left:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
                deadline = float("inf")
            time.sleep(0.1)


def _items(seq) -> list:
    """Elements of a py4j-proxied Scala Seq."""
    return [seq.apply(i) for i in range(seq.size())]


class SparkWindow:
    """Spark work done between two marks, read from the status store.

    One client runs one action at a time, so every job and stage with
    an id above the mark belongs to the span being measured; this also
    covers the streaming query thread, whose jobs carry no job group
    of ours."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()  # noqa: SLF001
        self._jvm = sc._jvm  # noqa: SLF001
        self._store = self._jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)  # noqa: SLF001
        self._quantiles = sc._gateway.new_array(self._jvm.double, 2)  # noqa: SLF001
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def _settle(self) -> None:
        # the AppStatusListener updates asynchronously; drain the bus
        try:
            self._jsc.listenerBus().waitUntilEmpty()
        except Exception:  # pragma: no cover - older/newer signatures
            time.sleep(0.2)

    def _stages(self):
        return _items(self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False, self._no_quantiles,
            self._jvm.java.util.ArrayList(),
        ))

    def _jobs(self):
        return _items(self._store.jobsList(self._jvm.java.util.ArrayList()))

    def mark(self) -> tuple[int, int]:
        self._settle()
        s = max((st.stageId() for st in self._stages()), default=-1)
        j = max((jb.jobId() for jb in self._jobs()), default=-1)
        return s, j

    def since(self, mark: tuple[int, int]) -> dict:
        """Summed stage metrics of every stage after ``mark``."""
        self._settle()
        acc = dict(jobs=0, stages=0, tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
                   input_bytes=0, shuffle_write_bytes=0, shuffle_read_bytes=0,
                   spill_bytes=0, task_skew=1.0)
        acc["jobs"] = sum(1 for jb in self._jobs() if jb.jobId() > mark[1])
        heaviest = None
        for st in self._stages():
            if st.stageId() <= mark[0]:
                continue
            acc["stages"] += 1
            acc["tasks"] += st.numTasks()
            acc["run_s"] += st.executorRunTime() / 1e3
            acc["cpu_s"] += st.executorCpuTime() / 1e9
            acc["gc_s"] += st.jvmGcTime() / 1e3
            acc["input_bytes"] += st.inputBytes()
            acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
            acc["shuffle_read_bytes"] += st.shuffleReadBytes()
            acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if st.numTasks() > 1 and (
                heaviest is None or st.executorRunTime() > heaviest.executorRunTime()
            ):
                heaviest = st
        if heaviest is not None:
            summary = self._store.taskSummary(
                heaviest.stageId(), heaviest.attemptId(), self._quantiles
            )
            if summary.isDefined():
                q = summary.get().executorRunTime()
                med, top = q.apply(0), q.apply(1)
                acc["task_skew"] = top / med if med > 0 else 1.0
        acc["wait_s"] = acc["run_s"] - acc["cpu_s"]
        return acc


class Tracer:
    """Spans kept in memory: name, start, end, parent, pass id and any
    attached attributes (stage metrics, counts). Written once, when the
    run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, pass_id: int, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": pass_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0


def dir_stats(path: str, skip_prefix: tuple[str, ...] = ()) -> tuple[int, int]:
    """(bytes, data files) under ``path``; ``skip_prefix`` names top-level
    entries to leave out (e.g. the streaming state directory)."""
    total = files = 0
    for d, subdirs, names in os.walk(path):
        if d == path:
            subdirs[:] = [s for s in subdirs if not s.startswith(skip_prefix)]
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def du(path: str) -> int:
    """Bytes of every file under ``path`` (hidden and marker files too)."""
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names
    )
