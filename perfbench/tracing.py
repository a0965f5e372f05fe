"""Tracing for the benchmark's traced run.

Two sources, joined on an op id of the form ``<pass>.<op>``:

* spans the benchmark records around each call into a layer (name,
  start, end, parent, op id), kept in memory.  The span name's prefix
  is its layer: ``pass``/``op.`` harness, ``session.``, ``registry.``
  (plan builders), ``exec.`` (actions), ``io.`` (``sources.parquet_io``);
* Spark's own per-task counters, read from the event log of the traced
  session.  Every span sets the Spark job description to
  ``<op id>|<span name>``, so each stage and task maps back to the op
  and the layer call that launched it.

With tracing off, ``span`` is a no-op and no job description is set.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

LAYERS = {"pass": "harness", "op": "harness", "session": "session",
          "registry": "registry", "exec": "exec", "io": "parquet_io"}


def layer_of(name: str) -> str:
    return LAYERS[name.split(".", 1)[0]]


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None  # SparkContext whose job description spans set
        self.op_id: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield
            return
        if op_id is not None:
            self.op_id = op_id
        rec = {
            "name": name,
            "op_id": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        if self.sc is not None:
            self.sc.setJobDescription(f"{self.op_id}|{name}")
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                parent = self.spans[self._stack[-1]] if self._stack else None
                self.sc.setJobDescription(
                    f"{parent['op_id']}|{parent['name']}" if parent else None
                )

    def self_times(self, timed: set[str]) -> dict[str, float]:
        """Seconds per layer that no child span covers, summed over the
        spans of ``timed`` passes (children never overlap: one client,
        no threads)."""
        child_s = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            if _pass_of(s["op_id"]) in timed:
                out[layer_of(s["name"])] += s["end"] - s["start"] - child_s[i]
        return dict(out)

    def span_seconds(self, timed: set[str]) -> dict[str, float]:
        """Total seconds per span name over the ``timed`` passes."""
        out = defaultdict(float)
        for s in self.spans:
            if _pass_of(s["op_id"]) in timed:
                out[s["name"]] += s["end"] - s["start"]
        return dict(out)


def _pass_of(op_id: str | None) -> str | None:
    return op_id.split(".", 1)[0] if op_id else None


# Spark SQL metric names of the Python (Arrow / pandas UDF) boundary.
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def read_event_log(log_dir: str, timed: set[str]) -> tuple[dict, dict]:
    """Sum Spark's per-task counters over the jobs launched inside the
    ``timed`` passes, by reading the (uncompressed, non-rolling) event
    log the traced session wrote under ``log_dir``.  Returns the totals
    and the same counters per op name."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_desc: dict[int, str] = {}
    by_op: dict[str, dict] = defaultdict(lambda: defaultdict(float))

    def counters(desc: str | None):
        """The op's counter dict when ``desc`` tags a timed pass."""
        if desc and _pass_of(desc) in timed:
            return by_op[desc.split("|", 1)[0].split(".", 1)[1]]
        return None

    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get("spark.job.description")
                if (c := counters(desc)) is not None:
                    c["exec.jobs"] += 1
                    if desc.endswith("|registry.build"):
                        c["plan.eager_jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                desc = ev.get("Properties", {}).get("spark.job.description")
                if desc:
                    stage_desc[ev["Stage Info"]["Stage ID"]] = desc
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if (c := counters(stage_desc.get(info["Stage ID"]))) is not None:
                    c["exec.stages"] += 1
                    if info.get("Stage Attempt ID", 0) > 0:
                        c["exec.stage_retries"] += 1
            elif kind == "SparkListenerTaskEnd":
                if (c := counters(stage_desc.get(ev["Stage ID"]))) is not None:
                    _add_task(c, ev)
    totals = defaultdict(float)
    for c in by_op.values():
        for k, v in c.items():
            totals[k] += v
    return dict(totals), {op: dict(c) for op, c in by_op.items()}


def _add_task(c: dict, ev: dict) -> None:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    c["exec.tasks"] += 1
    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
        c["exec.tasks_failed"] += 1
    c["exec.task_s"] += m.get("Executor Run Time", 0) / 1e3
    c["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    c["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
    c["shuffle.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics", {})
    c["shuffle.bytes_written"] += sw.get("Shuffle Bytes Written", 0)
    c["shuffle.records_written"] += sw.get("Shuffle Records Written", 0)
    c["shuffle.fetch_wait_s"] += m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1e3
    inp = m.get("Input Metrics", {})
    c["scan.bytes_read"] += inp.get("Bytes Read", 0)
    c["scan.records_read"] += inp.get("Records Read", 0)
    c["io.write_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    for acc in info.get("Accumulables", []):
        if acc.get("Name") == PY_SENT:
            c["python.bytes_sent"] += float(acc.get("Update", 0))
        elif acc.get("Name") == PY_RETURNED:
            c["python.bytes_returned"] += float(acc.get("Update", 0))
