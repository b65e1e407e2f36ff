"""Tracing from the benchmark's side of the calls into the engine.

Spans are recorded in memory around each call the benchmark makes into an
engine module (``Tracer.span``) and written out when the run ends. py4j
round trips are counted by wrapping the gateway client's ``send_command``
and charged to the innermost open span of the calling thread. Spark work is
attributed per operation through job groups, read back from the status
tracker (counts) and from the event log (times, bytes), which the traced run
enables from outside the package.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._unpatch = None

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "start": time.time(),
            "end": None,
            "py4j": 0,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def count_py4j(self, gateway_client) -> None:
        """Charge every py4j ``send_command`` to the current thread's
        innermost open span (calls outside any span are not counted)."""
        original = gateway_client.send_command
        tracer = self

        def send_command(*args, **kwargs):
            stack = getattr(tracer._local, "stack", None)
            if stack:
                stack[-1]["py4j"] += 1
            return original(*args, **kwargs)

        gateway_client.send_command = send_command
        self._unpatch = lambda: delattr(gateway_client, "send_command")

    def close(self) -> None:
        if self._unpatch is not None:
            self._unpatch()
            self._unpatch = None

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


@contextmanager
def patched(module, name: str, tracer: Tracer, span_name: str):
    """Replace ``module.name`` by a wrapper that records a span per call."""
    original = getattr(module, name)

    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            return original(*args, **kwargs)

    setattr(module, name, wrapper)
    try:
        yield
    finally:
        setattr(module, name, original)


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            sinfo = st.getStageInfo(sid)
            if sinfo is not None:
                stages += 1
                tasks += sinfo.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "disk_spill_bytes",
}


def read_event_log(path: str) -> tuple[dict[int, dict], dict[int, dict]]:
    """Jobs (group, start/end in epoch seconds, stage ids) and completed
    stages (task count, run/CPU/GC time, shuffle-write and spill bytes,
    RDD scope names) from an uncompressed, non-rolling event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                rec = defaultdict(int)
                rec["tasks"] = info.get("Number of Tasks", 0)
                for acc in info.get("Accumulables", []):
                    key = _STAGE_METRICS.get(acc.get("Name"))
                    if key is not None:
                        rec[key] += int(acc.get("Value") or 0)
                rec["scopes"] = sorted({
                    json.loads(r["Scope"])["name"]
                    for r in info.get("RDD Info", []) if r.get("Scope")
                })
                stages[info["Stage ID"]] = dict(rec)
    return jobs, stages


def event_totals(jobs: dict[int, dict], stages: dict[int, dict], groups) -> dict:
    """Sum the event-log figures over the jobs whose group is in ``groups``."""
    groups = set(groups)
    out = defaultdict(float)
    for job in jobs.values():
        if job["group"] not in groups:
            continue
        if job["end"] is not None:
            out["job_s"] += job["end"] - job["start"]
        for sid in job["stages"]:
            st = stages.get(sid)
            if st is None:  # skipped (shuffle reuse) stages never complete
                continue
            out["executor_run_s"] += st.get("run_ms", 0) / 1e3
            out["executor_cpu_s"] += st.get("cpu_ns", 0) / 1e9
            out["gc_s"] += st.get("gc_ms", 0) / 1e3
            out["shuffle_write_mb"] += st.get("shuffle_write_bytes", 0) / 2**20
            out["spill_mb"] += (
                st.get("spill_bytes", 0) + st.get("disk_spill_bytes", 0)
            ) / 2**20
    return dict(out)


def job_intervals(jobs: dict[int, dict], group: str) -> list[tuple[float, float]]:
    return [
        (j["start"], j["end"]) for j in jobs.values()
        if j["group"] == group and j["end"] is not None
    ]


# -- memory ---------------------------------------------------------------

def tree_rss_bytes(root: int) -> dict[str, int]:
    """Resident memory of ``root`` (the driver), the JVMs and the other
    processes (Python workers) descending from it, from /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    page = os.sysconf("SC_PAGE_SIZE")
    out = {"driver": 0, "jvm": 0, "workers": 0}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        kind = "driver" if pid == root else "jvm" if comm == "java" else "workers"
        out[kind] += rss
    return out


def cpu_steal_s() -> float:
    """Cumulative CPU time the hypervisor gave to other guests (the
    ``steal`` column of /proc/stat): time this run waited for a CPU that no
    process of this machine was using."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background sampler of the process tree's peak resident memory, in
    total and per kind of process."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_kind: dict[str, int] = defaultdict(int)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            sample = tree_rss_bytes(me)
            self.peak = max(self.peak, sum(sample.values()))
            for kind, v in sample.items():
                self.peak_by_kind[kind] = max(self.peak_by_kind[kind], v)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
