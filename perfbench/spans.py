"""In-memory spans around calls into the engine's modules.

A :class:`Tracer` records one :class:`Span` per call the benchmark makes
into a layer (``sources.lakehouse``, ``jobs.sync``, ``adtech`` …): name,
layer, start, end, parent span and a trace id per cycle or batch.  With
tracing on it also

- sets a Spark job group per span, so the jobs a call launched are read
  back from the status tracker (streams are attributed by their run id,
  which Spark uses as the stream's job group);
- reads per-stage executor metrics from the status store, which works
  with the UI off;
- counts py4j *call* commands by wrapping the gateway client's
  ``send_command``.  Other commands (object detach from garbage
  collection, memory and reflection traffic) are not counted: their
  number depends on when the collector runs, not on the work.

With tracing off every ``span`` is a no-op, so the end-to-end timings of
an untraced run carry no tracing cost.  Spans stay in memory until
:meth:`Tracer.dump` writes them out at the end of the run.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: py4j protocol prefix of a method/constructor/static call command
_CALL = "c\n"
_STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("input_bytes", "inputBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "memoryBytesSpilled", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("tasks", "numTasks", 1),
)


@dataclass
class Span:
    span_id: int
    layer: str
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0  # call commands inside the span, children included
    jobs: list[int] = field(default_factory=list)  # jobs of this span only

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    children cover.  Overlapping children (threads) are merged first, so
    covered time is never counted twice; children are clipped to the
    parent's interval."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.span_id, [])
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = s.seconds - covered
    return out


class Py4jCounter:
    """Counts call commands the Python side sends to the JVM."""

    def __init__(self, gateway_client) -> None:
        self._client = gateway_client
        self._send = gateway_client.send_command
        self._lock = threading.Lock()
        self._quiet = threading.local()
        self.calls = 0
        self.own_s = 0.0  # time spent counting

        def send_command(command, *args, **kwargs):
            t0 = time.perf_counter()
            if command.startswith(_CALL) and not getattr(self._quiet, "on", False):
                with self._lock:
                    self.calls += 1
                    self.own_s += time.perf_counter() - t0
            return self._send(command, *args, **kwargs)

        gateway_client.send_command = send_command

    @contextmanager
    def quiet(self):
        """Do not count calls made inside the block (the tracer's own)."""
        prev = getattr(self._quiet, "on", False)
        self._quiet.on = True
        try:
            yield
        finally:
            self._quiet.on = prev

    def close(self) -> None:
        self._client.send_command = self._send


class Tracer:
    def __init__(self, spark) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.streams: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._sc = spark.sparkContext
        self.py4j: Py4jCounter | None = None
        self._own_s = 0.0  # span bookkeeping on the calling thread

    def start(self) -> None:
        """Turn tracing on: spans record from here on."""
        self.py4j = Py4jCounter(self._sc._gateway._gateway_client)
        self.enabled = True

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(f"perfbench-{span.span_id}", f"{span.layer}:{span.name}")

    @contextmanager
    def span(self, layer: str, name: str, trace_id: str = ""):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            span_id=next(self._ids),
            layer=layer,
            name=name,
            trace_id=trace_id or (parent.trace_id if parent else ""),
            parent=parent.span_id if parent else None,
            start=0.0,
        )
        t0 = time.perf_counter()
        with self.py4j.quiet():
            self._set_group(s)
        calls0 = self.py4j.calls
        s.start = time.perf_counter()
        self._own_s += s.start - t0
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            s.py4j = self.py4j.calls - calls0
            with self.py4j.quiet():
                tracker = self._sc.statusTracker()
                s.jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-{s.span_id}"))
                self._set_group(parent)
            self.spans.append(s)
            self._own_s += time.perf_counter() - s.end

    def own_seconds(self) -> float:
        """Time the tracer itself added: span bookkeeping (job groups and
        job lookups, py4j round trips) plus py4j call counting."""
        return self._own_s + (self.py4j.own_s if self.py4j else 0.0)

    def overhead_frac(self, traced_wall: float) -> float:
        """Tracing overhead: traced time over the same work untraced,
        minus one, with the untraced time taken as the traced wall less
        the tracer's own time."""
        own = self.own_seconds()
        return own / (traced_wall - own)

    def record_stream(self, run_id: str, layer: str, name: str) -> None:
        """Attribute a stream's jobs (job group = its run id)."""
        if not self.enabled:
            return
        with self.py4j.quiet():
            jobs = sorted(self._sc.statusTracker().getJobIdsForGroup(run_id))
        self.streams.append({"run_id": run_id, "layer": layer, "name": name, "jobs": jobs})

    def stage_metrics(self, job_ids) -> dict[str, float]:
        """Summed executor metrics of the distinct stages of ``job_ids``."""
        out = {k: 0.0 for k, _, _ in _STAGE_FIELDS}
        out.update(jobs=0, stages=0)
        if not self.enabled:
            return out
        from py4j.protocol import Py4JJavaError

        seen: set[int] = set()
        with self.py4j.quiet():
            tracker = self._sc.statusTracker()
            store = self._sc._jsc.sc().statusStore()
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                out["jobs"] += 1
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # a stage the store no longer holds
                        continue
                    out["stages"] += 1
                    for key, attr, scale in _STAGE_FIELDS:
                        out[key] += getattr(st, attr)() * scale
        return out

    def all_jobs(self) -> list[int]:
        jobs = {j for s in self.spans for j in s.jobs}
        for st in self.streams:
            jobs.update(st["jobs"])
        return sorted(jobs)

    def layer_self_times(self) -> dict[str, float]:
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + st[s.span_id]
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "streams": self.streams,
                    "layer_self_s": self.layer_self_times(),
                    **extra,
                },
                f,
                indent=1,
            )

    def close(self) -> None:
        if self.py4j is not None:
            self.py4j.close()
