"""Spans for the traced run.

A :class:`Tracer` wraps public functions of the program from the outside.
Each call becomes a span (name, start, end, parent, run id). A span that can
launch Spark jobs also sets its own Spark job group for its duration and
restores the caller's group on exit, so ``statusTracker`` attributes every
job to exactly one span. Spans stay in memory and are written out once, at
the end of the run.

Counts per span come from two sources after the run:

* :meth:`Tracer.count_jobs` -- jobs, stages and completed tasks per job
  group, from ``SparkContext.statusTracker()`` (before the session stops);
* :func:`event_log_totals`  -- executor run time and shuffle bytes written
  per job group, from the run's own Spark event log (after it stops).
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0      # time spent in the tracer's own bookkeeping
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()

    def _group(self, sid: int) -> str:
        return f"pb:{self.run_id}:{sid}"

    def jobs_submitted(self) -> int:
        """Jobs the status store has seen so far (a watermark: the count
        taken around a call, independent of job groups). Waits for the
        listener bus to deliver pending job events first."""
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        n = int(self._store.jobsList(None).size())
        self.overhead_s += time.perf_counter() - t0
        return n

    @contextmanager
    def span(self, name: str, jobs: bool = True, **attrs):
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": self._group(sid) if jobs else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        if jobs:
            prev = (self.sc.getLocalProperty("spark.jobGroup.id"),
                    self.sc.getLocalProperty("spark.job.description"))
            self.sc.setJobGroup(rec["group"], name)
        self.overhead_s += time.perf_counter() - t0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t1 = time.perf_counter()
            self._stack.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
                self.sc.setLocalProperty("spark.job.description", prev[1])
            self.overhead_s += time.perf_counter() - t1

    def patch(self, owner, attr: str, jobs: bool = True, annotate=None,
              count_around: bool = False) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until :meth:`unpatch`.
        ``annotate(rec, args, kwargs, result)`` may add attributes;
        ``count_around`` records ``jobs_around``, the status store's job
        count taken before and after the call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = self.jobs_submitted() if count_around else 0
            with self.span(attr, jobs=jobs) as rec:
                out = fn(*args, **kwargs)
                if annotate is not None:
                    annotate(rec, args, kwargs, out)
            if count_around:
                rec["jobs_around"] = self.jobs_submitted() - before
            return out

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    def count_jobs(self) -> None:
        """Attach self job/stage/task counts to every job-group span."""
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if rec["group"] is None:
                continue
            stages: set[int] = set()
            n_stages = 0
            job_ids = tracker.getJobIdsForGroup(rec["group"])
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info is not None:
                    ids = list(info.stageIds)
                    n_stages += len(ids)
                    stages.update(ids)
            tasks = 0
            for s in stages:
                st = tracker.getStageInfo(s)
                tasks += st.numCompletedTasks if st is not None else 0
            rec["self_jobs"] = len(job_ids)
            rec["self_stages"] = n_stages
            rec["self_tasks"] = tasks

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, default=str) + "\n")


# -- span tree arithmetic ------------------------------------------------------

def children(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for rec in spans:
        if rec["parent"] is not None:
            out.setdefault(rec["parent"], []).append(rec)
    return out


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def self_time(rec: dict, kids: dict[int, list[dict]]) -> float:
    """Span duration minus the part its direct children cover (children of
    one span never overlap: the driver is single-threaded)."""
    return duration(rec) - sum(duration(c) for c in kids.get(rec["id"], []))


def subtree(rec: dict, kids: dict[int, list[dict]]) -> list[dict]:
    out, todo = [], [rec]
    while todo:
        r = todo.pop()
        out.append(r)
        todo.extend(kids.get(r["id"], []))
    return out


def inclusive(rec: dict, kids: dict[int, list[dict]], key: str) -> float:
    return sum(r.get(key, 0) or 0 for r in subtree(rec, kids))


# -- event log -----------------------------------------------------------------

def event_log_totals(log_dir: str) -> dict[str, dict]:
    """Per job group: ``executor_run_s`` and ``shuffle_write_bytes`` summed
    over the tasks of the stages the group's jobs ran. A stage belongs to
    the first job that lists it."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = {}
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                   for f in fs if f.startswith(("events_", "local-", "app-"))
                   and not f.endswith(".crc"))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev.get("Stage IDs", []):
                        stage_group.setdefault(s, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    t = totals.setdefault(group, {"executor_run_s": 0.0,
                                                  "shuffle_write_bytes": 0})
                    t["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    t["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics")
                                                 or {}).get("Shuffle Bytes Written", 0)
    return totals
