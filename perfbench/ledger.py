"""Spans around every call into the engine, and the traced-run ledger.

Every call the benchmark makes into a layer's public function goes
through ``Tracer.call``, which records a span (layer, name, phase, pass,
start, end). With tracing on it also sets a job group unique to the
span before the call and clears it afterwards, so each Spark job in the
event log names the one span that fired it. A job group left set on the
thread would otherwise absorb the next call's jobs.

Jobs the engine submits from threads of its own (the MERGE's overlapped
writes, streaming micro-batches) do not inherit the caller's job group.
The benchmark is a single client and its spans never overlap, so such a
job belongs to the one span whose wall-clock interval contains its
submission time; a job inside no span, or inside more than one, fails
the attribution guard.

Every span also records how much vCPU time the guest ran and how much
the hypervisor withheld (steal) while it was open; ``Span.seconds`` is
its wall time scaled by the share of the asked-for vCPU time that was
granted. On a shared host, steal comes in bursts of tens of seconds and
stretches every call it overlaps by about its share; this takes that
out. Without steal, ``Span.seconds`` is the wall time.

With tracing off the spans are still recorded (two clock reads and two
reads of ``/proc/stat``), but no job group is set, no event log is
written and no listener is attached.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    phase: str
    pass_no: int
    t0: float
    t1: float = 0.0
    wall0: float = 0.0
    wall1: float = 0.0
    busy: float = 0.0
    steal: float = 0.0

    @property
    def seconds(self) -> float:
        return granted(self.t1 - self.t0, self.busy, self.steal)


def host_cpu_s() -> tuple[float, float]:
    """(busy, steal) vCPU-seconds of the whole guest so far, from
    ``/proc/stat``. Steal is time a vCPU was ready to run but the
    hypervisor ran something else; the guest charges it to no process."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    hz = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / hz, steal / hz


def granted(wall: float, busy: float, steal: float) -> float:
    """``wall`` scaled by the share of the vCPU time asked for in it
    (``busy + steal``) that was granted (``busy``)."""
    asked = busy + steal
    return wall * busy / asked if asked > 0 else wall


class StreamListener(StreamingQueryListener):
    """Maps streaming run ids to the span active when the query started,
    and keeps each micro-batch's trigger duration."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer
        self.run_span: dict[str, int] = {}
        self.batch_ms: dict[int, list[float]] = defaultdict(list)

    def onQueryStarted(self, event) -> None:
        self.run_span[str(event.runId)] = self.tracer.active

    def onQueryProgress(self, event) -> None:
        p = event.progress
        sid = self.run_span.get(str(p.runId), -1)
        self.batch_ms[sid].append(float(p.durationMs.get("triggerExecution", 0)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


@dataclass
class Tracer:
    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    active: int = -1
    pass_no: int = 0
    listener: StreamListener | None = None

    def __post_init__(self):
        if self.enabled:
            self.listener = StreamListener(self)
            self.spark.streams.addListener(self.listener)

    def call(self, layer: str, name: str, phase: str, fn, *args, **kwargs):
        """Run ``fn`` as one span; exceptions propagate after the span
        is closed."""
        sc = self.spark.sparkContext
        span = Span(len(self.spans), layer, name, phase, self.pass_no, 0.0)
        self.spans.append(span)
        if self.enabled:
            sc.setJobGroup(f"pb{span.sid}", f"{layer}:{name}", interruptOnCancel=False)
            self.active = span.sid
        busy0, steal0 = host_cpu_s()
        span.wall0 = time.time()
        span.t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            span.t1 = time.perf_counter()
            span.wall1 = time.time()
            busy1, steal1 = host_cpu_s()
            span.busy, span.steal = busy1 - busy0, steal1 - steal0
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                sc.setLocalProperty("spark.job.interruptOnCancel", None)
                self.active = -1

    def drain(self) -> None:
        """Wait until the listener bus has delivered every queued event."""
        if self.enabled:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@dataclass
class JobCost:
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    scan_tasks: int = 0
    jobs: int = 0

    def add(self, other: "JobCost") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class AttributionError(RuntimeError):
    """A job in the event log could not be tied to exactly one span."""


def parse_event_log(log_dir: str, spans: list[Span]) -> dict[int, JobCost]:
    """Per-span task totals from an uncompressed, non-rolling event log.

    A job belongs to the span its job group names (``pb<sid>``) or, with
    no such group, to the one span whose interval contains its
    submission time; any other job raises ``AttributionError``."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if len(files) != 1:
        raise AttributionError(f"expected one event log in {log_dir}, found {files}")
    windows = [(math.floor(s.wall0 * 1e3), math.ceil(s.wall1 * 1e3), s.sid) for s in spans]
    stage_span: dict[int, int] = {}
    unattributed: list[tuple] = []
    costs: dict[int, JobCost] = defaultdict(JobCost)
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                if group.startswith("pb"):
                    sids = [int(group[2:])]
                else:
                    at = ev["Submission Time"]
                    sids = [sid for lo, hi, sid in windows if lo <= at <= hi]
                if len(sids) != 1:
                    unattributed.append((ev["Job ID"], group, props.get("spark.job.description")))
                    continue
                costs[sids[0]].jobs += 1
                for stage in ev["Stage IDs"]:
                    stage_span.setdefault(stage, sids[0])
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                metrics = ev.get("Task Metrics")
                if sid is None or not metrics:
                    continue
                c = costs[sid]
                c.tasks += 1
                c.cpu_s += metrics["Executor CPU Time"] / 1e9
                c.gc_s += metrics["JVM GC Time"] / 1e3
                sw = metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                c.shuffle_mb += sw / 2**20
                c.spill_mb += (metrics["Memory Bytes Spilled"] + metrics["Disk Bytes Spilled"]) / 2**20
                read = metrics["Input Metrics"]["Bytes Read"]
                if read:
                    c.input_mb += read / 2**20
                    c.scan_tasks += 1
    if unattributed:
        raise AttributionError(
            f"{len(unattributed)} jobs not in exactly one span, e.g. {unattributed[:5]}"
        )
    return costs


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds of ``pid`` and its live descendants."""
    total = 0
    for p in [pid, *_descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    """High-water resident set (VmHWM) of ``pid`` and its descendants:
    the Python driver, the Spark JVM and any Python workers it runs."""
    total = 0.0
    for p in [pid, *_descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024
        except FileNotFoundError:
            continue
    return total


def _descendants(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as fh:
                kids = [int(k) for k in fh.read().split()]
        except FileNotFoundError:
            continue
        for k in kids:
            out.append(k)
            out.extend(_descendants(k))
    return out
