"""Tracing for the benchmark's traced run.

Every measurement is taken from outside the program:

- spans are opened by the benchmark around each call into a layer;
- py4j round-trips are counted by wrapping the client connection's
  ``send_command`` while a plan is built;
- Spark jobs and stages are read from the driver's status store after each
  request and attached, by their submission time, under the span they fell
  in (a stream's micro-batch jobs run under the stream's own job group, so
  job groups would miss them);
- stream starts and batches come from a ``StreamingQueryListener``.

Spans stay in memory until ``Tracer.dump`` writes them out once.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

import py4j.clientserver
import py4j.protocol
from pyspark.sql.streaming import StreamingQueryListener

#: per-stage totals summed into each job span
STAGE_FIELDS = (
    "numCompleteTasks", "executorRunTime", "executorCpuTime", "inputBytes", "outputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)
#: spans recorded from Spark's own records rather than around a call
LEAF_SPANS = ("spark.job", "stream.batch")


@dataclass
class Span:
    name: str
    request: int
    parent: int | None
    start: float  # epoch seconds, the clock Spark stamps its jobs with
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    index: int = -1

    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class _StreamEvents(StreamingQueryListener):
    """Collects stream starts and batch progress as they are delivered."""

    def __init__(self) -> None:
        self.started: list[float] = []
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.started.append(_epoch(event.timestamp))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = _epoch(p.timestamp)
        ms = dict(p.durationMs)
        self.batches.append({
            "start": start,
            "end": start + ms.get("triggerExecution", 0) / 1000,
            "input_rows": p.numInputRows,
            **ms,
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        self._spark = spark
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._bus.waitUntilEmpty()
        self._seen_job = max((j["jobId"] for j in self._jobs()), default=-1)
        self.streams = _StreamEvents()
        spark.streams.addListener(self.streams)
        self.spans: list[Span] = []
        self._of_request: dict[int, list[int]] = defaultdict(list)
        self.py4j_calls = 0
        self._send = py4j.clientserver.ClientServerConnection.send_command
        tracer = self

        def counting_send(conn, command):
            tracer.py4j_calls += 1
            return tracer._send(conn, command)

        py4j.clientserver.ClientServerConnection.send_command = counting_send

    def close(self) -> None:
        py4j.clientserver.ClientServerConnection.send_command = self._send
        self._spark.streams.removeListener(self.streams)

    def _add(self, span: Span) -> None:
        span.index = len(self.spans)
        self.spans.append(span)
        self._of_request[span.request].append(span.index)

    @contextmanager
    def span(self, name: str, request: int, parent: Span | None = None):
        """Record a span around the block; yields the span."""
        s = Span(name, request, None if parent is None else parent.index, time.time())
        self._add(s)
        try:
            yield s
        finally:
            s.end = time.time()

    def _json(self, seq) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(seq))

    def _jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def attach_jobs(self, request: int) -> None:
        """Attach the jobs the status store gained since the last call, with
        their stages' totals, under the span of ``request`` they were
        submitted in. Called after every request, because the store keeps
        only the most recent jobs and stages."""
        self._bus.waitUntilEmpty()
        jobs = [j for j in self._jobs() if j["jobId"] > self._seen_job]
        if not jobs:
            return
        self._seen_job = max(j["jobId"] for j in jobs)
        stages = {}
        for sid in {sid for j in jobs for sid in j["stageIds"]}:
            try:
                stages[sid] = self._json(self._store.lastStageAttempt(sid))
            except py4j.protocol.Py4JJavaError:  # evicted from the store: counted as skipped
                pass
        for j in jobs:
            start = j["submissionTime"] / 1000
            end = (j.get("completionTime") or j["submissionTime"]) / 1000
            attrs = {"job_id": j["jobId"], "stages": 0, "stages_skipped": 0, **dict.fromkeys(STAGE_FIELDS, 0)}
            for sid in j["stageIds"]:
                st = stages.get(sid)
                if st is None or st["status"] == "SKIPPED":
                    attrs["stages_skipped"] += 1
                    continue
                attrs["stages"] += 1
                for f in STAGE_FIELDS:
                    attrs[f] += st.get(f) or 0
            self._add(Span("spark.job", request, self._innermost(request, start), start, end, attrs))

    def attach_streams(self) -> None:
        """Place stream starts and batches, which the listener receives
        asynchronously, under the span they fell in."""
        self._bus.waitUntilEmpty()
        requests = [s for s in self.spans if s.name == "request"]
        for t in self.streams.started:
            for req in requests:
                if req.start <= t <= req.end:
                    req.attrs["streams"] = req.attrs.get("streams", 0) + 1
        for b in self.streams.batches:
            for req in requests:
                if req.start <= b["start"] <= req.end:
                    attrs = {k: v for k, v in b.items() if k not in ("start", "end")}
                    parent = self._innermost(req.request, b["start"])
                    self._add(Span("stream.batch", req.request, parent, b["start"], b["end"], attrs))

    def _innermost(self, request: int, t: float) -> int | None:
        """Index of the latest-starting call span of ``request`` containing ``t``."""
        best = None
        for i in self._of_request[request]:
            s = self.spans[i]
            if s.name in LEAF_SPANS or not s.start <= t <= s.end:
                continue
            if best is None or s.start >= self.spans[best].start:
                best = i
        return best

    def _children(self) -> dict[int | None, list[int]]:
        kids: dict[int | None, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            kids[s.parent].append(i)
        return kids

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its children cover."""
        kids = self._children()
        return [
            s.duration() - covered([(self.spans[k].start, self.spans[k].end) for k in kids[i]], s.start, s.end)
            for i, s in enumerate(self.spans)
        ]

    def request_rows(self, cores: int) -> list[dict]:
        """Per traced request, the per-layer numbers the benchmark reports."""
        kids = self._children()
        selfs = self.self_times()
        rows = []
        for i, req in enumerate(self.spans):
            if req.name != "request":
                continue
            layer = {self.spans[k].name: k for k in kids[i]}
            row = {"wall_s": req.duration(), "unattributed": selfs[i] / max(req.duration(), 1e-9),
                   "streams": req.attrs.get("streams", 0)}
            jobs = [k for k in self._of_request[req.request] if self.spans[k].name == "spark.job"]
            batches = [k for k in self._of_request[req.request] if self.spans[k].name == "stream.batch"]
            b = layer.get("queries.build")
            if b is not None:
                build = self.spans[b]
                eager = [k for k in kids[b] if self.spans[k].name == "spark.job"]
                eager_s = covered([(self.spans[k].start, self.spans[k].end) for k in eager], build.start, build.end)
                row.update(build_s=build.duration(), py4j_calls=build.attrs.get("py4j_calls", 0),
                           eager_jobs=len(eager), eager_job_s=eager_s, construct_s=build.duration() - eager_s)
            c = layer.get("catalyst.plan")
            if c is not None:
                row.update(self.spans[c].attrs)
            a = layer.get("exec.action")
            if a is not None:
                row.update(action_s=self.spans[a].duration(),
                           action_jobs=sum(self.spans[k].name == "spark.job" for k in kids[a]))
            p = layer.get("persist.release")
            if p is not None:
                row.update(release_s=self.spans[p].duration(), released=self.spans[p].attrs.get("released", 0))
            tot = defaultdict(float)
            for k in jobs:
                for f in ("stages", "stages_skipped", *STAGE_FIELDS):
                    tot[f] += self.spans[k].attrs[f]
            row.update(
                stages=tot["stages"], stages_skipped=tot["stages_skipped"], tasks=tot["numCompleteTasks"],
                cpu_s=tot["executorCpuTime"] / 1e9, run_s=tot["executorRunTime"] / 1e3,
                core_util=tot["executorRunTime"] / 1e3 / max(req.duration() * cores, 1e-9),
                input_bytes=tot["inputBytes"], output_bytes=tot["outputBytes"],
                shuffle_read_bytes=tot["shuffleReadBytes"], shuffle_write_bytes=tot["shuffleWriteBytes"],
                spill_bytes=tot["memoryBytesSpilled"] + tot["diskBytesSpilled"],
            )
            bt = [self.spans[k].attrs for k in batches]
            row.update(batches=len(bt), input_rows=sum(x.get("input_rows", 0) for x in bt))
            rows.append(row)
        return rows

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        doc = {
            **extra,
            "spans": [
                {"id": i, "name": s.name, "request": s.request, "parent": s.parent,
                 "start": s.start, "end": s.end, "self_s": selfs[i], **s.attrs}
                for i, s in enumerate(self.spans)
            ],
        }
        with open(path, "w") as fh:
            json.dump(doc, fh)
