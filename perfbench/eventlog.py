"""Per-layer cost from Spark's own event log, attributed from outside.

The traced run switches the event log on through public configuration
(``spark.eventLog.*``) and, after the session stops, this module reads
it back.  Nothing inside the program is tagged, so layers are recovered
from what the program already exposes:

* every job carries the local properties its driver thread had set —
  ``run_pipeline`` names each detector thread's job group
  ``dude_spark <detector>``, a stream epoch carries its batch id;
* a SQL execution that writes files names its output directory in its
  plan (``InsertIntoHadoopFsRelationCommand <path>``), and every stage
  of this program ends in a write to a directory named after it.

A *scope* is a sequence of jobs that run one after another on one
driver thread (one detector chain of one pipeline run, one stream
epoch).  Within a scope a job is charged to the first write at or after
it, and jobs after the scope's last write to that last write.  Jobs in
a scope with no write keep their scope but no layer; jobs in no scope
have neither.  Both count as unattributed.

Costs are executor-side: task run time, GC, shuffle bytes written,
spill, records written — so concurrent detector chains, whose driver
walls overlap, are still charged separately.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import re
from collections.abc import Callable

_WRITE_NODE = "InsertIntoHadoopFsRelationCommand "
_WANTED = re.compile(
    r'^\{"Event":"(SparkListenerTaskEnd|SparkListenerJobStart|SparkListenerJobEnd|'
    r'org\.apache\.spark\.sql\.execution\.ui\.SparkListenerSQLExecutionStart)"'
)


@dataclasses.dataclass
class Cost:
    """Summed task metrics of one group of jobs."""

    task_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    records_out: int = 0
    jobs: int = 0
    spans: list = dataclasses.field(default_factory=list)  # job (submit, end) ms

    def add_task(self, m: dict) -> None:
        self.task_ms += m.get("Executor Run Time", 0)
        self.gc_ms += m.get("JVM GC Time", 0)
        self.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        )
        self.spill_bytes += m.get("Disk Bytes Spilled", 0)
        self.records_out += m.get("Output Metrics", {}).get("Records Written", 0)

    def add(self, other: "Cost") -> "Cost":
        for f in ("task_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes",
                  "records_out", "jobs"):
            setattr(self, f, getattr(self, f) + getattr(other, f))
        self.spans += other.spans
        return self

    def wall_ms(self) -> int:
        return union_ms(self.spans)


@dataclasses.dataclass
class Job:
    job_id: int
    props: dict
    exec_id: int | None
    submit_ms: int
    end_ms: int | None = None


@dataclasses.dataclass
class EventLog:
    jobs: dict[int, Job]
    write_path: dict[int, str]          # SQL execution id -> output dir
    stage_job: dict[int, int]           # stage id -> job that ran it
    task_metrics: list[tuple[int, dict, int, int]]  # (stage, metrics, launch, finish)

    def job_write(self, job: Job) -> str | None:
        return None if job.exec_id is None else self.write_path.get(job.exec_id)


def _write_path(plan: dict) -> str | None:
    todo = [plan]
    while todo:
        node = todo.pop()
        s = node.get("simpleString", "")
        if _WRITE_NODE in s:
            path = s.split(_WRITE_NODE, 1)[1].split(",", 1)[0].strip()
            if path.startswith("file:"):
                path = path[len("file:"):]
            return os.path.normpath(path)
        todo.extend(node.get("children", ()))
    return None


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``, rolling parts in order."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))


def read_event_log(files: list[str]) -> EventLog:
    jobs: dict[int, Job] = {}
    write_path: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    tasks = []
    for path in files:
        with open(path) as f:
            for line in f:
                m = _WANTED.match(line)
                if not m:
                    continue
                e = json.loads(line)
                kind = m.group(1)
                if kind == "SparkListenerTaskEnd":
                    info = e["Task Info"]
                    tasks.append((e["Stage ID"], e.get("Task Metrics") or {},
                                  info["Launch Time"], info["Finish Time"]))
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    jid = e["Job ID"]
                    jobs[jid] = Job(jid, props, None if ex is None else int(ex),
                                    e["Submission Time"])
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end_ms = e["Completion Time"]
                else:
                    wp = _write_path(e.get("sparkPlanInfo") or {})
                    if wp is not None:
                        write_path[e["executionId"]] = wp
    return EventLog(jobs, write_path, stage_job, tasks)


def attribute(
    log: EventLog,
    scope_of: Callable[[dict], str | None],
    layer_of: Callable[[str], str | None],
    fixed: dict[str, str] | None = None,
) -> dict[int, tuple[str, str | None] | None]:
    """job id -> (scope, layer); layer None when the scope has no write,
    the whole value None when the job is in no scope.

    ``scope_of`` maps a job's properties to its scope; ``layer_of`` maps
    a written directory to a layer name (None: not a layer boundary);
    ``fixed`` charges every job of a scope to one layer."""
    by_scope: dict[str, list[Job]] = {}
    out: dict[int, tuple[str, str] | None] = {}
    for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
        scope = scope_of(job.props)
        if scope is None:
            out[job.job_id] = None
        else:
            by_scope.setdefault(scope, []).append(job)
    for scope, jobs in by_scope.items():
        if fixed and scope in fixed:
            out.update((j.job_id, (scope, fixed[scope])) for j in jobs)
            continue
        layers = []
        for job in jobs:
            wp = log.job_write(job)
            layers.append(None if wp is None else layer_of(wp))
        nxt = None
        for i in range(len(jobs) - 1, -1, -1):
            nxt = layers[i] or nxt
            layers[i] = nxt
        last = None
        for i, job in enumerate(jobs):
            last = layers[i] or last
            out[job.job_id] = (scope, last)
    return out


def costs(log: EventLog, placed: dict[int, tuple[str, str | None] | None]) -> dict:
    """(scope, layer) -> Cost; work in no scope is keyed ``None``."""
    out: dict = {}
    for job in log.jobs.values():
        key = placed.get(job.job_id)
        c = out.setdefault(key, Cost())
        c.jobs += 1
        c.spans.append((job.submit_ms, job.end_ms or job.submit_ms))
    for stage, metrics, _launch, _finish in log.task_metrics:
        jid = log.stage_job.get(stage)
        key = None if jid is None else placed.get(jid)
        out.setdefault(key, Cost()).add_task(metrics)
    return out


def union_ms(spans: list[tuple[int, int]], window: tuple[int, int] | None = None) -> int:
    """Length of the union of ``spans``, clipped to ``window``."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if window is not None:
            s, e = max(s, window[0]), min(e, window[1])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def idle_ms(log: EventLog, window: tuple[int, int]) -> int:
    """Time inside ``window`` during which no task was running."""
    busy = union_ms([(t[2], t[3]) for t in log.task_metrics], window)
    return max(0, window[1] - window[0] - busy)
