"""Measurement from outside the program: host state, process-tree CPU
and memory, Spark job-group statistics and in-memory spans.

Nothing here changes what the program does. Job statistics come from
job groups set around each layer call plus ``sc.statusTracker()`` and
the application status store, read after the call returns.
"""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_state() -> dict:
    """1-min load average, JVMs already running and core count, taken
    before the session starts, so a polluted run is visible."""
    info: dict = {"nproc": os.cpu_count()}
    with open("/proc/loadavg") as f:
        info["loadavg_1m"] = float(f.read().split()[0])
    try:
        out = subprocess.run(
            ["ps", "-eo", "pid,etime,comm"], capture_output=True, text=True,
            check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        info["preexisting_jvms"] = None
    else:
        info["preexisting_jvms"] = sum(
            1 for ln in out.splitlines()[1:] if ln.split()[-1] == "java"
        )
    return info


def cpu_ticks() -> list[int]:
    """Machine-wide CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time the machine asked for in between (busy
    plus stolen; idle and iowait left out) that the hypervisor gave to
    something else. Time metrics are reported net of it: on a dedicated
    4-core machine the same operation would not wait for it."""
    d = [b - a for a, b in zip(before, after)]
    demanded = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / demanded if demanded else 0.0


def _tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU of the process tree, including children that
    have exited and been waited for (the JVM, its Python workers)."""
    total = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of the process tree right now."""
    total = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2**20


class RssSampler:
    """Peak process-tree RSS, sampled on demand between operations."""

    def __init__(self) -> None:
        self.peak_mb = 0.0

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# -- Spark job groups -------------------------------------------------

_GROUP = "spark.jobGroup.id"


def wait_listeners(sc) -> None:
    """Block until the status store has seen every finished job."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def max_job_id(sc) -> int:
    """Highest job id the status store holds (-1 if none)."""
    wait_listeners(sc)
    jobs = sc._jsc.sc().statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "JobStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def group_stats(sc, group: str) -> JobStats:
    """Jobs, stages that ran (skipped ones excluded), tasks and stage
    metrics of one job group."""
    st = JobStats()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        st.jobs += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage no longer retained
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            st.stages += 1
            st.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
            st.exec_run_s += sd.executorRunTime() / 1e3
            st.exec_cpu_s += sd.executorCpuTime() / 1e9
            st.gc_s += sd.jvmGcTime() / 1e3
            st.input_bytes += sd.inputBytes()
            st.shuffle_read_bytes += sd.shuffleReadBytes()
            st.shuffle_write_bytes += sd.shuffleWriteBytes()
            st.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return st


# -- spans ------------------------------------------------------------


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory, nested run -> pass -> operation -> layer
    call. With ``on=False`` every method is a cheap no-op and no job
    group is set, so untraced runs time the program alone."""

    def __init__(self, sc, on: bool) -> None:
        self.sc = sc
        self.on = on
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._n = 0

    def open(self, name: str, job_group: bool = False, **attrs) -> int | None:
        if not self.on:
            return None
        group = None
        if job_group:
            self._n += 1
            group = f"perfbench-{self._n}"
            self.sc.setLocalProperty(_GROUP, group)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, parent, time.perf_counter(), group=group,
                               attrs=attrs))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def begin(self, name: str, **attrs) -> int:
        """Open a span whether or not recording is on (the run span
        that encloses plain and traced passes alike)."""
        on, self.on = self.on, True
        try:
            return self.open(name, **attrs)
        finally:
            self.on = on

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.remove(idx)

    def close(self, idx: int | None) -> Span | None:
        if idx is None:
            return None
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack.pop()
        # hand the job group back to the innermost enclosing call
        outer = next(
            (self.spans[i].group for i in reversed(self._stack)
             if self.spans[i].group),
            None,
        )
        self.sc.setLocalProperty(_GROUP, outer)
        return span

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "id": i, "name": s.name, "parent": s.parent,
                "start_s": round(s.start - t0, 6),
                "dur_s": round(s.end - s.start, 6),
                "job_group": s.group, **s.attrs,
            }
            for i, s in enumerate(self.spans)
        ]
