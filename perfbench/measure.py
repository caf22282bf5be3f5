"""Measurement helpers for the medallion benchmark: spans around layer
calls, Spark stage deltas from the AppStatusStore, streaming batch
overheads from a ``StreamingQueryListener``, and peak RSS from /proc.

Everything here observes the program from outside; nothing is patched
into it.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0
STAGE_FIELDS = ("input_mb", "input_rows", "shuffle_write_mb", "spill_mb", "task_cpu_s")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    stages: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class StageMeter:
    """Stage I/O and executor CPU since a stage-id watermark. Reading
    by stage id, not cumulative totals, keeps a delta correct when the
    store evicts old stages."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.watermark = self._read(None)[0]

    def _read(self, after: int | None):
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        stages = self._store.stageList(
            self._jvm.java.util.ArrayList(),
            False,
            False,
            self._quantiles,
            self._jvm.java.util.ArrayList(),
        )
        mx = -1 if after is None else after
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        # the store lists stages newest first: stop at the watermark, so
        # a span boundary costs Py4J calls for its new stages only
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            mx = max(mx, sid)
            if after is None or sid <= after:
                break
            tot["input_mb"] += s.inputBytes() / MB
            tot["input_rows"] += s.inputRecords()
            tot["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
            tot["task_cpu_s"] += s.executorCpuTime() / 1e9
        return mx, tot

    def delta(self) -> dict:
        """Totals of the stages that ran since the last call."""
        self.watermark, tot = self._read(self.watermark)
        return tot


class Tracer:
    """Spans kept in memory. While ``enabled`` is false (the default)
    every span is a no-op, so untraced operations pay nothing."""

    def __init__(self, run_id: str):
        self.enabled = False
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._meter = None

    def attach(self, spark) -> None:
        """Read stage metrics from ``spark`` from now on (spans survive
        a session restart)."""
        self._meter = StageMeter(spark)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        self._charge()  # stages since the last boundary belong to the parents
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.run_id)
        sp.stages = dict.fromkeys(STAGE_FIELDS, 0.0)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._charge()
            self._stack.pop()

    def _charge(self) -> None:
        """Add the stages run since the last boundary to every open span:
        a span's totals include its children's."""
        delta = self._meter.delta()
        for j in self._stack:
            for k, v in delta.items():
                self.spans[j].stages[k] += v

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def records(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
                **{k: round(v, 6) for k, v in s.stages.items()},
            }
            for s in self.spans
        ]


class BatchListener(StreamingQueryListener):
    """Micro-batch progress per layer, recorded while ``active``: a query
    reading a ``bronze`` directory is silver, any other is ingest. One
    listener is re-registered on every session of a run. Its events come
    through the SparkContext's listener bus, so once that bus is empty
    every finished query's progress is in."""

    def __init__(self):
        self.active = False
        self.batches: dict[str, list[dict]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        if not self.active:
            return
        p = event.progress
        src = p.sources[0].description if p.sources else ""
        layer = "silver" if src.rstrip("]").endswith("/bronze") else "ingest"
        self.batches.setdefault(layer, []).append(
            {"rows": p.numInputRows, **dict(p.durationMs)}
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def overhead_ms(batches: list[dict]) -> float:
    """Median per-batch fixed cost in ms (0 when there were no batches)."""
    vals = sorted(
        b.get("triggerExecution", 0) - b.get("addBatch", 0)
        for b in batches
        if b["rows"] > 0
    )
    return float(vals[len(vals) // 2]) if vals else 0.0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of the driver JVM and the Python processes (this
    one and any workers) among this process's descendants, sampled every
    ``period`` seconds. Other descendants are left out: a child the JVM
    forks to run a helper such as ``chmod`` shares all of the JVM's pages
    until it execs, and counting it would count the JVM twice."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self.peak_by_process: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while True:
            rss = [
                (name, _rss_kb(p))
                for p in _descendants(me)
                if (name := _comm(p)) == "java" or name.startswith("python")
            ]
            kb = sum(v for _, v in rss)
            if kb > self.peak_kb:
                self.peak_kb = kb
                by: dict[str, int] = {}
                for name, v in rss:
                    by[name] = by.get(name, 0) + v // 1024
                self.peak_by_process = by
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
