"""Measurement from outside the program: spans around calls into each
layer's public functions, Spark job attribution by job group, process-tree
CPU and memory from /proc, host-noise canaries and the session-conf probe.

Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records spans (name, start, end, parent, op id) when ``enabled``;
    otherwise every method is a cheap no-op, so the untraced run executes
    the same benchmark code without the bookkeeping."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.jobs: dict[str, list[dict]] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = iter(range(1, 1 << 62))
        self.pending_diffs: list[tuple] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **tags):
        """One call into a layer. Yields the span's tag dict (callers may add
        counts to it); nothing is recorded when tracing is off."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "op": stack[0]["op"] if stack else tags.pop("op", None),
            "tags": tags,
            "start": time.time(),
        }
        stack.append(rec)
        try:
            yield rec["tags"]
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op(self, op_id: str, name: str, **tags):
        """Root span of one operation. Spark jobs launched on this thread are
        tagged with the op id through the job group."""
        if not self.enabled:
            yield {}
            return
        if self._stack():  # nested in another op (warm-up inside set-up)
            with self.span(name, **tags) as t:
                yield t
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, name)
        try:
            with self.span(name, op=op_id, **tags) as t:
                yield t
        finally:
            sc.setJobGroup("perfbench-idle", "outside any op")

    def wrap(self, name: str, fn, tags=None):
        """``fn`` with a span around every call; ``tags()`` may return extra
        tags, read when the call starts."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, **(tags() if tags else {})):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str, tags=None) -> None:
        """Replace ``owner.attr`` with its traced form, for the rest of the
        process. Only called when tracing is on."""
        setattr(owner, attr, self.wrap(name, getattr(owner, attr), tags))

    def last_enricher(self, name: str, diff, tags: dict) -> None:
        """Remember the enricher that just returned ``diff``: the store
        materialization that follows executes it, and its rows are counted
        into ``tags`` after the op (outside the op's time)."""
        if self.enabled:
            self._local.enricher = name
            self.pending_diffs.append((tags, diff))

    def count_diffs(self) -> None:
        sc = self.spark.sparkContext
        sc.setJobGroup("perfbench-counts", "enricher diff sizes")
        for tags, diff in self.pending_diffs:
            tags["added"] = diff.added.count()
            tags["removed"] = diff.removed.count()
        self.pending_diffs = []
        sc.setJobGroup("perfbench-idle", "outside any op")

    def take_enricher(self) -> dict:
        name = getattr(self._local, "enricher", None)
        self._local.enricher = None
        return {"enricher": name} if name else {}

    def harvest(self, op_id: str) -> list[dict]:
        """Jobs of one op from Spark's status store: submission/completion
        (epoch ms), stage count, task and failed-task counts. Job events
        reach the status store through Spark's asynchronous listener bus,
        so the bus is drained first: a late event would otherwise leave a
        job out or without its end time."""
        if not self.enabled:
            return []
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        store = sc._jsc.sc().statusStore()
        jobs = []
        for jid in sc.statusTracker().getJobIdsForGroup(op_id):
            data = store.job(jid)
            sub, done = data.submissionTime(), data.completionTime()
            jobs.append(
                {
                    "job": jid,
                    "submit": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                    "stages": data.stageIds().size(),
                    "tasks": data.numTasks(),
                    "failed_tasks": data.numFailedTasks(),
                }
            )
        self.jobs[op_id] = jobs
        return jobs

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")
            f.write(json.dumps({"jobs": self.jobs}) + "\n")


# --- span analysis ----------------------------------------------------------------


def union_seconds(intervals: list[tuple[float, float]]) -> float:
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


def op_view(spans: list[dict], jobs: list[dict]) -> dict:
    """Per-op analysis: each job is attributed to the innermost span whose
    interval holds its submission (1 ms slack for the JVM's ms clock);
    self time = duration - the union of child spans and own jobs."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    own_jobs: dict[int, list[dict]] = {}
    depth = {}
    for s in spans:
        d, p = 0, s["parent"]
        while p is not None and p in by_id:
            d, p = d + 1, by_id[p]["parent"]
        depth[s["id"]] = d
    for j in jobs:
        if j["submit"] is None:
            continue
        holders = [
            s for s in spans if s["start"] - 0.001 <= j["submit"] <= s["end"] + 0.001
        ]
        if holders:
            own_jobs.setdefault(max(holders, key=lambda s: depth[s["id"]])["id"], []).append(j)
    self_time = {}
    for s in spans:
        js = [
            (max(j["submit"], s["start"]), min(j["end"] or s["end"], s["end"]))
            for j in own_jobs.get(s["id"], [])
        ]
        js = [(a, b) for a, b in js if b > a]
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        self_time[s["id"]] = max(0.0, (s["end"] - s["start"]) - union_seconds(kids + js))
    return {"own_jobs": own_jobs, "self": self_time, "children": children}


def jobs_within(span: dict, view: dict) -> list[dict]:
    """Jobs attributed to ``span`` or any span below it."""
    out = list(view["own_jobs"].get(span["id"], []))
    for c in view["children"].get(span["id"], []):
        out += jobs_within(c, view)
    return out


# --- process tree, host canaries, session conf ----------------------------------


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    return data[data.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _proc_stat(int(entry))
            if st:
                parents.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += parents.get(pid, [])
    return out


def tree_cpu_seconds(root: int) -> float:
    """user+system CPU of ``root`` and every descendant, including reaped
    children (cutime/cstime): the Python driver, the JVM and the Python
    workers."""
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(root):
        st = _proc_stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / ticks


def peak_rss_mb(root: int) -> float:
    """Peak resident set (VmHWM) of the driver Python process plus the JVM
    it launched."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if pid != root and b"java" not in cmd.split(b"\0")[0]:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024.0


def host_canaries() -> dict:
    """loadavg and aggregate CPU counters (for the steal share of a run)."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load, "cpu": cpu}


def steal_share(before: dict, after: dict) -> float:
    delta = [b - a for a, b in zip(before["cpu"], after["cpu"])]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0


def conf_snapshot(spark, keys) -> dict:
    return {k: spark.conf.get(k, None) for k in keys}
