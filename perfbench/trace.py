"""Spans and per-layer accounting for the traced run.

The benchmark records one span per call it makes into a layer (builder,
Catalyst planning, the drain, a ``sources.snapshots`` function). After
each operation, outside its timed region, it reads Spark's status stores:
the SQL store (``sharedState().statusStore()``) for SQL executions with
their submit and complete times, and the core store
(``sc.statusStore()``) for the jobs of the operation's job group and their
stages. Store spans become children of the benchmark span in which they
started, so every operation is one tree sharing one ``op`` id.

Layer self time is a span's length minus the part its children cover.
The layers partition an operation's wall time:

* ``builder``   the builder call minus the SQL executions it ran eagerly;
* ``snapshots`` a ``sources.snapshots`` call minus its SQL executions;
* ``catalyst``  forcing ``queryExecution().executedPlan()``;
* ``catalog``   the SQL executions of view-creation commands;
* ``exec``      the union of every other SQL-execution span;
* ``driver``    the residual: drain time that no SQL execution covers.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


def union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge overlapping intervals; returns them sorted and disjoint."""
    out: list[tuple[float, float]] = []
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if out and lo <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return out


def cover(merged: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by disjoint ``merged`` intervals."""
    return sum(max(0.0, min(hi, b) - max(lo, a)) for a, b in merged)


@dataclass
class Span:
    op: int
    name: str
    layer: str
    start: float  # epoch seconds
    end: float
    parent: str | None = None
    attrs: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        return {"op": self.op, "name": self.name, "layer": self.layer,
                "start": self.start, "end": self.end, "parent": self.parent,
                **self.attrs}


class OpClock:
    """Contiguous benchmark-side spans of one operation.

    ``mark(layer, name)`` closes the segment that began at the previous
    mark, so the segments tile the operation with no gap."""

    def __init__(self, op: int, name: str):
        self.op = op
        self.name = name
        self.spans: list[Span] = []
        self._t = time.time()
        self._p = time.perf_counter()
        self.start_epoch = self._t
        self.start_perf = self._p

    def mark(self, layer: str, name: str) -> None:
        p = time.perf_counter()
        t = self._t + (p - self._p)
        self.spans.append(Span(self.op, name, layer, self._t, t, parent=self.name))
        self._t, self._p = t, p

    def durations(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        return out

    @property
    def wall(self) -> float:
        return self._p - self.start_perf


class StoreReader:
    """Reads what Spark's status stores recorded for one operation."""

    def __init__(self, spark):
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.core_store = spark.sparkContext._jsc.sc().statusStore()
        self.tracker = spark.sparkContext.statusTracker()
        self.last_exec_id = self._max_exec_id()

    def _max_exec_id(self) -> int:
        n = int(self.sql_store.executionsCount())
        if n == 0:
            return -1
        tail = self.sql_store.executionsList(n - 1, 1)
        return int(tail.apply(0).executionId())

    def new_executions(self) -> list[dict]:
        """SQL executions started since the previous call, oldest first.
        The store keeps at most ``spark.sql.ui.retainedExecutions``, far
        more than one operation runs."""
        n = int(self.sql_store.executionsCount())
        out: list[dict] = []
        batch = 32
        offset = n
        while offset > 0:
            lo = max(0, offset - batch)
            seq = self.sql_store.executionsList(lo, offset - lo)
            chunk = []
            for i in range(seq.size()):
                e = seq.apply(i)
                eid = int(e.executionId())
                if eid > self.last_exec_id:
                    chunk.append(e)
            out = chunk + out
            if len(chunk) < offset - lo:
                break
            offset = lo
        recs = []
        for e in out:
            done = e.completionTime()
            end_ms = done.get().getTime() if done.isDefined() else None
            plan = str(e.physicalPlanDescription() or "")
            recs.append({
                "id": int(e.executionId()),
                "start": int(e.submissionTime()) / 1000.0,
                "end": (end_ms / 1000.0) if end_ms is not None else None,
                "jobs": int(e.jobs().size()),
                "view_command": _is_view_command(plan, str(e.description() or "")),
            })
        if recs:
            self.last_exec_id = max(r["id"] for r in recs)
        return recs

    def group_jobs(self, group: str) -> list[dict]:
        """Jobs of one job group with the summed metrics of their stages."""
        jobs = []
        for jid in sorted(self.tracker.getJobIdsForGroup(group)):
            try:
                job = self.core_store.job(jid)
            except Exception:  # noqa: BLE001 - evicted from the bounded store
                continue
            sub, done = job.submissionTime(), job.completionTime()
            stages = [int(job.stageIds().apply(i)) for i in range(job.stageIds().size())]
            rec = {"id": jid,
                   "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                   "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                   "stages": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
                   "input_mb": 0.0, "shuffle_read_mb": 0.0,
                   "shuffle_write_mb": 0.0, "spill_mb": 0.0}
            for sid in stages:
                try:
                    st = self.core_store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += int(st.numCompleteTasks()) + int(st.numFailedTasks())
                rec["task_run_s"] += int(st.executorRunTime()) / 1000.0
                rec["task_cpu_s"] += int(st.executorCpuTime()) / 1e9
                rec["input_mb"] += int(st.inputBytes()) / MB
                rec["shuffle_read_mb"] += (
                    int(st.shuffleRemoteBytesRead()) + int(st.shuffleLocalBytesRead())
                ) / MB
                rec["shuffle_write_mb"] += int(st.shuffleWriteBytes()) / MB
                rec["spill_mb"] += (
                    int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
                ) / MB
            jobs.append(rec)
        return jobs


def _is_view_command(plan: str, description: str) -> bool:
    text = plan + "\n" + description
    return "CreateViewCommand" in text or "CreateTempViewUsing" in text


JOB_FIELDS = ("stages", "tasks", "task_run_s", "task_cpu_s", "input_mb",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def op_layers(clock: OpClock, execs: list[dict], jobs: list[dict],
              cores: int) -> tuple[dict, list[Span]]:
    """Per-layer numbers of one operation plus the store spans, each
    attached to the benchmark span in which it started.

    SQL executions of view-creation commands are catalog work and form
    the ``catalog`` layer; every other SQL execution is ``exec``. The
    self times returned (``*_s`` without ``wall``) sum to the wall time."""
    op_lo = clock.start_epoch
    op_hi = clock.spans[-1].end if clock.spans else op_lo
    iv = {"catalog": [], "exec": []}
    store_spans = []
    for e in execs:
        end = e["end"] if e["end"] is not None else op_hi
        layer = "catalog" if e["view_command"] else "exec"
        iv[layer].append((max(op_lo, e["start"]), min(op_hi, end)))
        store_spans.append(Span(clock.op, f"sql_exec_{e['id']}", layer,
                                e["start"], end,
                                parent=_containing(clock.spans, e["start"]),
                                attrs={"jobs": e["jobs"]}))
    for j in jobs:
        start = j["start"] or op_lo
        store_spans.append(Span(clock.op, f"job_{j['id']}", "job", start,
                                j["end"] or start,
                                parent=_containing(clock.spans, start),
                                attrs={k: j[k] for k in JOB_FIELDS}))
    exec_m = union(iv["exec"])
    # A view command inside an exec span counts once, as exec.
    catalog_m = union(iv["catalog"])
    catalog_s = sum(hi - lo - cover(exec_m, lo, hi) for lo, hi in catalog_m)
    every = union(iv["exec"] + iv["catalog"])
    self_s: dict[str, float] = {}
    for s in clock.spans:
        bucket = "driver_residual" if s.layer == "drain" else s.layer
        self_s[bucket] = (self_s.get(bucket, 0.0)
                          + (s.end - s.start) - cover(every, s.start, s.end))
    exec_s = cover(exec_m, op_lo, op_hi)
    builder_end = next((s.end for s in clock.spans if s.layer == "builder"), op_lo)
    totals = {f: sum(j[f] for j in jobs) for f in JOB_FIELDS}
    layers = {
        "wall_s": op_hi - op_lo,
        "builder_s": 0.0, "catalyst_s": 0.0, "driver_residual_s": 0.0,
        **{f"{k}_s": v for k, v in self_s.items()},
        "catalog_s": catalog_s,
        "exec_s": exec_s,
        "builder_eager_exec_s": cover(exec_m, op_lo, builder_end),
        "builder_jobs": sum(1 for j in jobs
                            if j["start"] is not None and j["start"] < builder_end),
        "sql_execs": len(iv["exec"]),
        "view_execs": len(iv["catalog"]),
        "jobs": len(jobs),
        **totals,
    }
    return layers, store_spans


def _containing(spans: list[Span], t: float) -> str | None:
    for s in spans:
        if s.start <= t < s.end:
            return s.name
    return spans[-1].name if spans else None


def write_ndjson(path: str, records: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for r in records:
            fh.write(json.dumps(r) + "\n")
