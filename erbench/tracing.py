"""Spans recorded around the engine's layer calls, plus Spark event-log
attribution of jobs, tasks, shuffle bytes and spill to those spans.

Spans are wall-clock windows (epoch seconds) kept in memory. Spark jobs
are attributed to the span whose window holds the job's submission
time; a job's tasks are those of the stages it ran. Where no span
wraps a layer's calls (the pipeline's own jobs, the parts of a stream
micro-batch), its wall comes from its jobs (job_walls). The event log is
parsed with the standard library only.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time
from dataclasses import dataclass, field

# batch pipeline stage -> span name
STAGE_SPANS = {
    "pages_keyed": "blocking",
    "candidate_pairs": "candidates",
    "pair_features": "features",
    "classified_pairs": "classify",
    "entity_map": "cluster",
}
SPANS = [
    "blocking",
    "candidates",
    "features",
    "classify",
    "cluster",
    "pipeline",
    "stream.score",
    "stream.corpus",
]
SPAN_FIELDS = [
    ("wall_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("cpu_s", "s"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("task_skew", "ratio"),
    ("failed_tasks", "count"),
    ("rows_out", "rows"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float


@dataclass
class SpanRecorder:
    spans: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.time()))


@contextlib.contextmanager
def stage_spans(recorder: SpanRecorder):
    """Record one span per StageRunner.run call of the batch pipeline,
    named by STAGE_SPANS, for as long as the context is open."""
    from aml_entity_resolution_assignment_spark.plans import pipeline

    original = pipeline.StageRunner.run

    def run(self, stage, *args, **kwargs):
        with recorder.span(STAGE_SPANS[stage]):
            return original(self, stage, *args, **kwargs)

    pipeline.StageRunner.run = run
    try:
        yield
    finally:
        pipeline.StageRunner.run = original


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float
    stage_ids: list[int]
    execution_id: int | None
    tasks: list[dict] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list[Job]
    writes: dict[int, str]  # SQL execution id -> path the execution writes


_WRITE_TARGET = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\s*\nInput[^\n]*\nArguments: ([^,\s]+)"
)


def read_event_log(log_dir: str) -> EventLog:
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    jobs: dict[int, Job] = {}
    stage_tasks: dict[int, list[dict]] = {}
    stage_submit: dict[int, float] = {}
    writes: dict[int, str] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerTaskEnd":
                    stage_tasks.setdefault(e["Stage ID"], []).append(_task(e))
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    exec_id = props.get("spark.sql.execution.id")
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"],
                        e["Submission Time"] / 1000,
                        e["Submission Time"] / 1000,
                        list(e["Stage IDs"]),
                        None if exec_id is None else int(exec_id),
                    )
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    stage_submit[info["Stage ID"]] = (
                        info.get("Submission Time") or 0
                    ) / 1000
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    m = _WRITE_TARGET.search(e.get("physicalPlanDescription", ""))
                    if m:
                        writes[e["executionId"]] = m.group(1)
    # a stage listed by several jobs ran under the last one submitted
    # before it (the others skipped it)
    ordered = sorted(jobs.values(), key=lambda j: j.submit)
    for sid, tasks in stage_tasks.items():
        owner = None
        for j in ordered:
            if sid in j.stage_ids and j.submit <= stage_submit.get(sid, 0) + 1e-3:
                owner = j
        if owner is None:
            owner = next((j for j in ordered if sid in j.stage_ids), None)
        if owner is not None:
            owner.tasks.extend(tasks)
    return EventLog(ordered, writes)


def _task(e: dict) -> dict:
    m = e.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    out = m.get("Output Metrics") or {}
    info = e["Task Info"]
    return {
        "stage": e["Stage ID"],
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Disk Bytes Spilled", 0),
        "rows_out": out.get("Records Written", 0),
        "failed": bool(info.get("Failed")) or e["Task End Reason"]["Reason"] != "Success",
    }


def span_metrics(name: str, wall_s: float, jobs: list[Job]) -> dict[str, float]:
    tasks = [t for j in jobs for t in j.tasks]
    mb = 2**20
    return {
        f"{name}.wall_s": wall_s,
        f"{name}.jobs": float(len(jobs)),
        f"{name}.tasks": float(len(tasks)),
        f"{name}.cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        f"{name}.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / mb,
        f"{name}.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / mb,
        f"{name}.spill_mb": sum(t["spill"] for t in tasks) / mb,
        f"{name}.task_skew": _skew(tasks),
        f"{name}.failed_tasks": float(sum(t["failed"] for t in tasks)),
        f"{name}.rows_out": float(sum(t["rows_out"] for t in tasks)),
    }


def _skew(tasks: list[dict]) -> float:
    """max / median task run time of the span's busiest stage (the one
    with the largest summed task time); 0 without such a stage."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        if not t["failed"]:
            by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    if not by_stage:
        return 0.0
    times = max(by_stage.values(), key=sum)
    med = statistics.median(times)
    return max(times) / med if med else 0.0


def attribute(log: EventLog, windows: list[Span]) -> dict[str, list[Job]]:
    """Jobs per span name: each job goes to the first window (in list
    order) whose interval holds its submission time. List child spans
    before the parent span that encloses them."""
    out: dict[str, list[Job]] = {w.name: [] for w in windows}
    for j in log.jobs:
        for w in windows:
            if w.start <= j.submit <= w.end:
                out[w.name].append(j)
                break
    return out


def busy_s(jobs: list[Job]) -> float:
    """Seconds in which at least one of the jobs was running: the length
    of the union of their [submit, end] intervals."""
    total, reach = 0.0, float("-inf")
    for j in sorted(jobs, key=lambda j: j.submit):
        start = max(j.submit, reach)
        total += max(0.0, j.end - start)
        reach = max(reach, j.end)
    return total


def job_walls(jobs: dict[str, list[Job]], start: float, fences: list[float] = ()) -> dict[str, float]:
    """Wall seconds of spans that no wrapper times, from their jobs. A job
    owns the time from the end of the job before it (or of the latest
    fence, or `start`) to its own end: the driver time spent preparing a
    job, such as query planning or file listing, counts with the job.
    Fences are the end times of other timed work, such as the stage spans
    a pipeline job follows. Time after the last job is owned by no one."""
    tagged = sorted(((j, name) for name, js in jobs.items() for j in js), key=lambda t: t[0].submit)
    out = {name: 0.0 for name in jobs}
    reach = start
    for j, name in tagged:
        lead = max([reach, *(f for f in fences if f <= j.submit)])
        out[name] += max(0.0, j.end - lead)
        reach = max(reach, j.end)
    return out


def stream_segments(log: EventLog, start: float, end: float) -> dict[str, list[Job]]:
    """The jobs of one er_stream micro-batch, submitted within [start,
    end], split by call site into stream.score, cluster and
    stream.corpus. The jobs run in program order, and the SQL execution
    each job belongs to names the path it writes: scoring ends with the
    write of matches/, cluster maintenance with the last write under
    clusters/, and the corpus upkeep is the rest of the batch."""
    jobs = [j for j in log.jobs if start <= j.submit <= end]
    score_end = _last_writer(log, jobs, "/matches/batch=")
    cluster_end = _last_writer(log, jobs, "/clusters/")
    if score_end is None or cluster_end is None:
        raise RuntimeError(
            "event log: no matches/ or clusters/ write found in a micro-batch window"
        )
    return {
        "stream.score": jobs[: score_end + 1],
        "cluster": jobs[score_end + 1 : cluster_end + 1],
        "stream.corpus": jobs[cluster_end + 1 :],
    }


def _last_writer(log: EventLog, jobs: list[Job], path_part: str) -> int | None:
    """Index of the last job whose SQL execution writes under path_part."""
    hits = [
        i
        for i, j in enumerate(jobs)
        if j.execution_id is not None and path_part in log.writes.get(j.execution_id, "")
    ]
    return hits[-1] if hits else None
