"""Measurement helpers read from outside the program.

- :class:`Tracer` keeps spans in memory (name, start, end, parent, run
  id) around the benchmark's own calls into each layer and computes
  each span name's self time.
- :func:`stage_totals` sums Spark's stage metrics from the status store
  (works with ``spark.ui.enabled=false``).
- :class:`StreamCounter` is a ``StreamingQueryListener`` counting
  micro-batches, input rows and state rows.
- :func:`peak_rss_mb` reads ``VmHWM`` of this process and its JVM.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.overhead_s += time.perf_counter() - t
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child_s[s["id"]]
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, f, indent=1)


def stage_totals(spark, after_stage: int) -> dict[str, float]:
    """Totals over the stages with id > ``after_stage``."""
    sc = spark.sparkContext
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    tot = {"max_stage": after_stage, "stages": 0, "tasks": 0, "shuffle_write_mb": 0.0, "input_mb": 0.0, "spill_mb": 0.0}
    for i in range(stages.length()):
        st = stages.apply(i)
        sid = st.stageId()
        if sid <= after_stage:
            continue
        tot["max_stage"] = max(tot["max_stage"], sid)
        tot["stages"] += 1
        tot["tasks"] += st.numTasks()
        tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        tot["input_mb"] += st.inputBytes() / 1e6
        tot["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
    return tot


class StreamCounter(StreamingQueryListener):
    """Counts micro-batches, input rows and state rows of every stream."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started = 0
        self.terminated = 0
        self.batches = 0
        self.input_rows = 0
        self.state_rows = 0
        self.overhead_s = 0.0  # time spent in these callbacks

    def onQueryStarted(self, event) -> None:
        t = time.perf_counter()
        with self._lock:
            self.started += 1
            self.overhead_s += time.perf_counter() - t

    def onQueryProgress(self, event) -> None:
        t = time.perf_counter()
        p = event.progress
        state = sum(op.numRowsTotal for op in p.stateOperators)
        with self._lock:
            self.batches += 1
            self.input_rows += p.numInputRows
            self.state_rows += state
            self.overhead_s += time.perf_counter() - t

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        t = time.perf_counter()
        with self._lock:
            self.terminated += 1
            self.overhead_s += time.perf_counter() - t

    def settle(self, timeout_s: float = 10.0) -> None:
        """Wait until every started stream's termination event arrived
        (listener events are delivered asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    return
            time.sleep(0.02)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus its JVM, in MB."""
    kb = _vm_hwm_kb(os.getpid())
    if jvm_pid is not None:
        kb += _vm_hwm_kb(jvm_pid)
    return kb / 1024
