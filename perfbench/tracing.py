"""Outside-in layer tracing: spans around public package calls, Spark
event-log attribution, and a /proc sampler for memory and local-dir bytes
written.

Nothing here edits the package. `Tracer.wrap` replaces a bound method on
one object with a wrapper that records a span and tags the calling
thread's Spark jobs with the span name (`setJobDescription`), so the
event log attributes jobs, stages, task time and shuffle bytes to it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import threading
import time
from dataclasses import dataclass


# ------------------------------------------------------------------ spans
@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None   # index into Tracer.spans
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(parent: Span, children) -> float:
    """Parent duration minus the union of its children clipped to it:
    concurrent children (the engine's sink thread pool) are not counted
    twice."""
    clipped = [(max(c.start, parent.start), min(c.end, parent.end))
               for c in children]
    return parent.dur - union_length([iv for iv in clipped if iv[1] > iv[0]])


class Tracer:
    """Records spans. With `sc` set, every wrapped call also becomes the
    Spark job description of its thread for the call's duration.

    Parent of a span: the innermost open span of the same thread, else the
    innermost open span marked `root` on any thread (the engine call that
    submitted the work to its pool)."""

    def __init__(self, sc=None, run_id: str = "run") -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._roots: list[int] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, fn, *args, root: bool = False, **kw):
        stack = self._stack()
        with self._lock:
            parent = (stack[-1] if stack
                      else (self._roots[-1] if self._roots else None))
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), 0.0, parent,
                                   self.run_id))
            if root:
                self._roots.append(idx)
        stack.append(idx)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobDescription(name)
        try:
            return fn(*args, **kw)
        finally:
            if self.sc is not None:
                self.sc.setJobDescription(prev)
            stack.pop()
            with self._lock:
                self.spans[idx].end = time.time()
                if root:
                    self._roots.remove(idx)

    def wrap(self, obj, method: str, label=None, root: bool = False) -> None:
        """Shadow obj.method with a spanned call. `label(args)` names the
        span (default: the method name)."""
        orig = getattr(obj, method)

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            name = label(args) if label else method
            return self.span(name, orig, *args, root=root, **kw)
        setattr(obj, method, wrapper)


# -------------------------------------------------------------- event log
def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """Files of one application's event log in write order. The benchmark
    pins Spark 4's default format: a rolling dir `eventlog_v2_<app>/`
    of zstd files `events_<n>_<app>.zstd`."""
    roll = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    files = glob.glob(os.path.join(roll, f"events_*_{app_id}.zstd"))
    return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))


def read_events(log_dir: str, app_id: str):
    import pyarrow as pa
    files = event_log_files(log_dir, app_id)
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    for path in files:
        with pa.input_stream(path, compression="zstd") as f:
            buf = b""
            while True:
                chunk = f.read(1 << 20)
                if not chunk:
                    break
                buf += chunk
                *lines, buf = buf.split(b"\n")
                for line in lines:
                    if line.strip():
                        yield json.loads(line)
            if buf.strip():
                yield json.loads(buf)


@dataclass
class JobStats:
    job_id: int
    submit_s: float          # epoch seconds
    description: str | None
    stages: int = 0          # stages that ran (skipped stages excluded)
    task_s: float = 0.0      # summed executor run time
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0         # memory + disk bytes spilled
    heap_peak_b: int = 0     # peak JVM heap used while its stages ran
    gc_total_s: float = 0.0  # the JVM's cumulative GC time at its stages' end


def job_stats(events) -> list[JobStats]:
    """Per-job totals from event-log records. A stage listed by several
    jobs is charged to the lowest job id that lists it. The heap peak
    and GC figures come from the stage executor metrics (logged only with
    spark.eventLog.logStageExecutorMetrics)."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = JobStats(jid, ev["Submission Time"] / 1000.0,
                                 props.get("spark.job.description"))
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]].stages += 1
        elif kind == "SparkListenerStageExecutorMetrics":
            jid = stage_job.get(ev["Stage ID"])
            if jid is not None:
                em, js = ev["Executor Metrics"], jobs[jid]
                js.heap_peak_b = max(js.heap_peak_b,
                                     em.get("JVMHeapMemory", 0))
                js.gc_total_s = max(js.gc_total_s,
                                    em.get("TotalGCTime", 0) / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            tm = ev.get("Task Metrics")
            if jid is None or not tm:
                continue
            js = jobs[jid]
            js.task_s += tm.get("Executor Run Time", 0) / 1000.0
            sr = tm.get("Shuffle Read Metrics", {})
            js.shuffle_read_b += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
            js.shuffle_write_b += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            js.spill_b += (tm.get("Memory Bytes Spilled", 0)
                           + tm.get("Disk Bytes Spilled", 0))
    return sorted(jobs.values(), key=lambda j: j.job_id)


def jobs_within(jobs: list[JobStats], spans: list[Span]) -> list[JobStats]:
    """Jobs submitted inside any of the spans (time-window attribution:
    covers jobs from threads whose description was never set)."""
    return [j for j in jobs
            if any(s.start <= j.submit_s <= s.end for s in spans)]


# ------------------------------------------------------------ /proc sampler
_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                   r"[0-9a-f]{12}")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of `root`."""
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.extend(kids.get(pid, []))
        todo.extend(kids.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while pid runs (a zombie awaiting its reaper has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of `root` and all its descendants:
    like RSS, but pages shared between forked Python workers count once."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def dir_files(path: str) -> dict[str, int]:
    """Size of every file under path, by path."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                out[p] = os.lstat(p).st_size
            except OSError:
                pass
    return out


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())


class PeakSampler:
    """Background thread sampling process-tree memory and the files under
    a directory every `period` seconds. `measure(fn)` records one window in
    `windows` per call: (peak memory while fn ran, bytes of the files that
    appeared under the directory while fn ran, at their largest size).

    Bytes written, not the directory's peak level: Spark deletes an
    earlier round's shuffle files only after the JVM happens to collect
    them, so the level at any moment depends on garbage-collection timing.
    Files named with a UUID (`temp_shuffle_<uuid>`, `*.data.<uuid>`) are
    Spark's temporaries, renamed or merged into the final files: counting
    them would count the same bytes twice whenever a sample caught one.
    """

    def __init__(self, local_dir: str, period: float = 0.2) -> None:
        self.local_dir = local_dir
        self.period = period
        self.windows: list[tuple[int, int]] = []
        self._mem = 0
        self._old: set[str] = set()
        self._new: dict[str, int] | None = None
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        mem, files = tree_pss_bytes(os.getpid()), dir_files(self.local_dir)
        with self._lock:
            if self._new is None:
                return
            self._mem = max(self._mem, mem)
            for p, size in files.items():
                if p not in self._old and not _UUID.search(
                        os.path.basename(p)):
                    self._new[p] = max(self._new.get(p, 0), size)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def measure(self, fn, *args, **kw):
        old = set(dir_files(self.local_dir))
        with self._lock:
            self._mem, self._old, self._new = 0, old, {}
        try:
            return fn(*args, **kw)
        finally:
            self._sample()  # files finished in the last period
            with self._lock:
                self.windows.append((self._mem, sum(self._new.values())))
                self._new = None

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
