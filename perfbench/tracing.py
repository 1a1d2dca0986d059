"""Tracing for the per-layer run: job-group spans, Spark status counts,
streaming micro-batches and the parse of Spark's JSON event log.

Every span is one call into one layer of one query in one pass, labelled
``<workload>/<query>/<layer>/<pass>``.  The label is set as the Spark job
group, so each job the call launches carries it into the status tracker
and the event log.  Streaming micro-batches run under the stream's own
job group (its run id); the listener maps that run id back to the span
that started the stream.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field, fields

from pyspark.sql.streaming import StreamingQueryListener

WRITTEN_FILES = "number of written files"


@dataclass
class SpanRecord:
    seconds: float = 0.0
    jobs: int = 0
    tasks: int = 0


@dataclass
class GroupCounters:
    """Event-log counters of the stages run under one job group."""

    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    written_files: int = 0
    failed_tasks: int = 0
    task_ms_by_stage: dict[int, list[float]] = field(default_factory=lambda: defaultdict(list))

    def add(self, other: GroupCounters) -> GroupCounters:
        for f in fields(self):
            if f.name != "task_ms_by_stage":
                setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        for stage, durations in other.task_ms_by_stage.items():
            self.task_ms_by_stage[stage].extend(durations)
        return self


def _metric_ids(node, name: str, out: set[int]) -> None:
    """Collect the accumulator ids of every SQL metric called ``name`` in a
    plan-info tree (any nesting of dicts and lists)."""
    if isinstance(node, dict):
        if node.get("name") == name and "accumulatorId" in node:
            out.add(int(node["accumulatorId"]))
        for v in node.values():
            _metric_ids(v, name, out)
    elif isinstance(node, list):
        for v in node:
            _metric_ids(v, name, out)


def parse_event_log(lines) -> dict[str, GroupCounters]:
    """Fold Spark JSON event-log lines into counters per job group.

    Stages belong to the first job that lists them; a task's counters go
    to its stage's group.  Files written are a driver-side SQL metric, so
    they are matched by accumulator id and credited to the group of the
    SQL execution's jobs."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    files_ids: set[int] = set()
    files_by_exec: dict[int, int] = defaultdict(int)
    out: dict[str, GroupCounters] = defaultdict(GroupCounters)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                exec_group.setdefault(int(xid), group)
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_group.get(ev["Stage ID"], "")]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            if info.get("Failed") or info.get("Killed"):
                c.failed_tasks += 1
                continue
            c.task_ms_by_stage[ev["Stage ID"]].append(
                float(info["Finish Time"] - info["Launch Time"]))
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            c.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            c.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0))
            c.spill_bytes += m.get("Disk Bytes Spilled", 0)
            c.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            c.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                if acc_id in files_ids:
                    files_by_exec[int(ev["executionId"])] += int(value)
        elif "sparkPlanInfo" in ev:  # SQL execution start / adaptive update
            _metric_ids(ev["sparkPlanInfo"], WRITTEN_FILES, files_ids)
    for xid, n in files_by_exec.items():
        out[exec_group.get(xid, "")].written_files += n
    return dict(out)


class _StreamProbe(StreamingQueryListener):
    """Maps each stream's run id to the span that started it and records
    every micro-batch's trigger time."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onQueryStarted(self, event):
        # called synchronously inside start(), so the open span is the caller
        self.tracer.stream_span[str(event.runId)] = self.tracer.label

    def onQueryProgress(self, event):
        p = event.progress
        self.tracer.batches.append(
            (str(p.runId), p.durationMs.get("triggerExecution", 0) / 1000.0))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Opens labelled spans around layer calls and keeps their records."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.label: str | None = None
        self.spans: dict[str, SpanRecord] = {}
        self.stream_span: dict[str, str | None] = {}
        self.batches: list[tuple[str, float]] = []
        self._probe = _StreamProbe(self)
        spark.streams.addListener(self._probe)

    @contextmanager
    def span(self, label: str):
        self.label = label
        self.sc.setJobGroup(label, label)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            seconds = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.label = None
            rec = SpanRecord(seconds=seconds)
            for jid in self.status.getJobIdsForGroup(label):
                rec.jobs += 1
                job = self.status.getJobInfo(jid)
                for sid in job.stageIds if job else ():
                    stage = self.status.getStageInfo(sid)
                    rec.tasks += stage.numCompletedTasks if stage else 0
            self.spans[label] = rec

    def drain_listeners(self) -> None:
        """Wait until queued listener events (stream progress) are delivered;
        ``waitUntilEmpty`` is JVM-internal API, reached through py4j."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def stream_batches(self) -> dict[str, list[float]]:
        """Micro-batch trigger seconds per span label."""
        out: dict[str, list[float]] = defaultdict(list)
        for run_id, seconds in self.batches:
            label = self.stream_span.get(run_id)
            if label:
                out[label].append(seconds)
        return dict(out)

    def close(self, spark) -> None:
        spark.streams.removeListener(self._probe)
