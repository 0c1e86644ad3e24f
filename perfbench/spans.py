"""Layer spans for the traced run.

Spans are recorded from the benchmark's own code, around the calls into
each layer's public function: the wrapper replaces the module attribute
the caller resolves, so workload code runs unchanged. In the traced run a
lazy result is materialized at the boundary (``localCheckpoint``) so the
span holds the layer's work.

Attribution:

* each span sets ``setJobGroup`` to its id; jobs, stages, executor run
  and CPU time, GC, shuffle write and spill come from the plain-text
  event log, grouped by ``spark.jobGroup.id``;
* codegen time is the delta of ``CodegenMetrics.METRIC_COMPILATION_TIME``
  (count x mean of its histogram);
* planning time is the ``queryExecution().tracker()`` phase total of the
  frames a span materializes.

Spans stay in memory; the run prints them when it ends. A span's
``self_s`` is its wall time minus the part covered by its child spans.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from collections import defaultdict

COUNTS_SPAN = "trace.counts"
SPAN_FIELDS = (
    "wall_s", "self_s", "jobs", "stages", "tasks", "exec_cpu_s", "exec_run_s",
    "gc_s", "shuffle_write_bytes", "spill_bytes", "codegen_ms", "planning_ms",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.active = False  # spans are recorded only inside the timed phase
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []

    # -- engine hooks --
    def _codegen_ms(self) -> float:
        h = self.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        return float(h.getCount()) * float(h.getSnapshot().getMean())

    @staticmethod
    def planning_ms(df) -> float:
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0.0
        for k in ("analysis", "optimization", "planning"):
            p = phases.get(k)
            if p.isDefined():
                total += p.get().durationMs()
        return total

    # -- spans --
    @contextlib.contextmanager
    def span(self, name: str):
        if not (self.enabled and self.active):
            yield {}
            return
        sc = self.spark.sparkContext
        s = {
            "id": uuid.uuid4().hex[:12],
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "counts": {},
            "planning_ms": 0.0,
        }
        cg0 = self._codegen_ms()
        self._stack.append(s)
        sc.setJobGroup(s["id"], name)
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()
            s["codegen_ms"] = self._codegen_ms() - cg0
            if self._stack:
                sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def materialize(self, out, s):
        """Checkpoint lazy DataFrame results so the span holds their work."""
        from pyspark.sql import DataFrame

        if not (self.enabled and self.active):
            return out
        if isinstance(out, DataFrame):
            done = out.localCheckpoint(eager=True)
            s["planning_ms"] += self.planning_ms(out)
            return done
        if isinstance(out, tuple):
            return tuple(self.materialize(o, s) for o in out)
        return out

    def wrap(self, owner, attr: str, name: str, counts=None):
        """Replace ``owner.attr`` by a spanning wrapper. ``counts(args,
        kwargs, out) -> dict`` adds layer counts (traced run only)."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = tracer.materialize(fn(*args, **kwargs), s)
            if s and counts is not None:
                # a sibling span: counting jobs and time stay out of the
                # layer's numbers and out of its parent's self time
                with tracer.span(COUNTS_SPAN):
                    for k, v in counts(args, kwargs, out).items():
                        s["counts"][k] = s["counts"].get(k, 0) + v
            return out

        wrapper.__wrapped__ = fn
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, fn))

    def unpatch(self):
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- report --
    def aggregate(self, event_log_dir: str) -> dict:
        """Per span name: summed SPAN_FIELDS and counts. Times, jobs and
        codegen are exclusive of child spans (spans of one thread nest
        properly, so children never overlap)."""
        by_group = _event_log_metrics(event_log_dir)
        child_wall = defaultdict(float)
        child_codegen = defaultdict(float)
        for s in self.spans:
            if s["parent"]:
                child_wall[s["parent"]] += s["end"] - s["start"]
                child_codegen[s["parent"]] += s["codegen_ms"]
        out: dict = {}
        for s in self.spans:
            wall = s["end"] - s["start"]
            ev = by_group.get(s["id"], {})
            a = out.setdefault(s["name"], {f: 0.0 for f in SPAN_FIELDS} | {"n": 0})
            a["n"] += 1
            a["wall_s"] += wall
            a["self_s"] += wall - child_wall[s["id"]]
            a["codegen_ms"] += s["codegen_ms"] - child_codegen[s["id"]]
            a["planning_ms"] += s["planning_ms"]
            for k in ("jobs", "stages", "tasks", "exec_cpu_s", "exec_run_s", "gc_s",
                      "shuffle_write_bytes", "spill_bytes"):
                a[k] += ev.get(k, 0)
            for k, v in s["counts"].items():
                a[k] = a.get(k, 0) + v
        return out


def _event_log_metrics(log_dir: str) -> dict:
    """job group id -> jobs, stages, executor run/CPU/GC time, shuffle
    write and spill bytes, from the uncompressed, non-rolling event log."""
    stage_group: dict = {}
    out: dict = defaultdict(lambda: defaultdict(float))
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname), encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    out[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if g is not None and "Submission Time" in ev["Stage Info"]:
                        out[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    o = out[g]
                    o["tasks"] += 1
                    o["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    o["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    o["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out
